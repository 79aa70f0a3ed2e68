"""Incremental entity resolution — micro-batch ingest of new files.

The reference is strictly batch (SURVEY §2.10: no streaming operators
exist; 详细实验流程以及代码说明.docx describes a 5-stage file-to-file flow),
so this module does NOT invent streaming semantics the reference lacks.
What a 100 TB deployment does need is *incremental* operation: new file
batches arrive, and re-running the O(n²) pipeline over the full corpus
per batch is not viable. The equivalent we provide:

  delta_pairs     — candidate pairs touching a new batch: (new × new)
                    within blocks PLUS (new × existing) against the
                    persisted members table — never (existing × existing),
                    which is already scored. One equi-join of the new
                    batch against every member.
  merge_components — labels-table union with a warm-started CC seeded
                    from existing components (old labels keep their
                    component ids, so downstream references stay stable
                    unless a merge occurs). CC finishes on the driver
                    when the seed and delta edges fit, by hash-min
                    rounds otherwise.

"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.similarity import sql_name as _q
from ..operators.connected_components import connected_components
from ..operators.pairs import ordered_pair_columns


def delta_pairs(
    new_members: DataFrame,
    existing_members: DataFrame,
    block_col: str = "block_key",
    id_col: str = "id",
) -> DataFrame:
    """Candidate pairs involving at least one new row.

    One equi-join on the blocking key: the new batch against ``everyone``
    (existing ∪ new, each row tagged new or not). A row is kept when
    ``new.id < other.id``, or when ``other`` is existing and
    ``new.id > other.id``, so each new×new pair comes out once, each
    new×existing pair once, and no self pair — also when an id is on both
    sides (re-ingest). Pairs are then put in ``id_a < id_b`` order with
    the payload swapped alongside, as ``blocked_pairs`` does; the output
    schema matches ``blocked_pairs``.

    There is no skew split. The new×existing pairs (m·M of them) never had
    one; only the new×new share (m²) went through ``blocked_pairs``'s
    bucket combos, at the price of a block-count pre-pass, an explode and
    three joins per batch. A hot block now skews the ``everyone`` side,
    which AQE's skew join splits. There is no broadcast hint either: the
    new batch is small, and once persisted its exact size lets AQE plan
    the broadcast itself.
    """
    # SQL expression strings, one py4j call per select: built from Column
    # objects, the same plan took ~1,400 py4j round trips (0.2 s) per batch
    payload = [c for c in new_members.columns if c not in (block_col, id_col)]
    blk, key = _q(block_col), _q(id_col)
    cols = [blk, key, *map(_q, payload)]
    everyone = existing_members.selectExpr(*cols, "false AS _new").unionByName(
        new_members.selectExpr(*cols, "true AS _new")
    )
    a = new_members.selectExpr(
        blk, f"{key} AS id_a", *[f"{_q(c)} AS {_q(c + '_a')}" for c in payload]
    )
    b = everyone.selectExpr(
        blk, f"{key} AS id_b", "_new", *[f"{_q(c)} AS {_q(c + '_b')}" for c in payload]
    )
    joined = a.join(b, block_col).where("id_a < id_b OR (NOT _new AND id_a > id_b)")
    return joined.selectExpr(*ordered_pair_columns(blk, payload))


def merge_components(
    existing_labels: DataFrame,
    new_vertices: DataFrame,
    new_edges: DataFrame,
    id_col: str = "id",
) -> DataFrame:
    """Fold a delta into the labels table.

    Warm start: every existing row is linked to its current component id
    by a seed edge, so new edges can merge old components (min id wins,
    exactly as a full recompute would) and unaffected components keep
    stable ids. connected_components solves the union: on the driver
    when the seed and delta edges fit under its DRIVER_MAX_EDGES bound,
    by hash-min rounds otherwise.
    """
    seeded = existing_labels.select(id_col, "component").unionByName(
        new_vertices.select(F.col(id_col), F.col(id_col).alias("component"))
    )
    # CC over the union; edges only need the delta because existing
    # intra-component edges are already reflected in the seeds — BUT old
    # component ids must be linked to their seed: treat (id, component)
    # as edges so merges propagate through existing clusters.
    seed_edges = existing_labels.select(
        F.col(id_col).alias("id_a"), F.col("component").alias("id_b")
    ).where(F.col("id_a") != F.col("id_b"))
    edges = new_edges.select("id_a", "id_b").unionByName(seed_edges)
    vertices = seeded.select(id_col).distinct()
    res = connected_components(vertices, edges, id_col=id_col)
    return res.labels

