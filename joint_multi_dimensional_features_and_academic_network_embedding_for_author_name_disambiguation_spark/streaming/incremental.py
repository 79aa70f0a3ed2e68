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
                    which is already scored.
  merge_components — labels-table union with hash-min re-convergence
                    seeded from existing components (warm start: old
                    labels keep their component ids, so downstream
                    references stay stable unless a merge occurs).

"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.connected_components import connected_components
from ..operators.pairs import blocked_pairs


def delta_pairs(
    new_members: DataFrame,
    existing_members: DataFrame,
    block_col: str = "block_key",
    id_col: str = "id",
    max_rows_per_task: int = 2000,
) -> DataFrame:
    """Candidate pairs involving at least one new row.

    new×new via the standard blocked self-join; new×existing via a plain
    equi-join on the blocking key (no self-join semantics needed — the
    sides are disjoint). Output schema matches blocked_pairs.
    """
    nn = blocked_pairs(new_members, block_col, id_col, max_rows_per_task)

    payload = [c for c in new_members.columns if c not in (block_col, id_col)]
    a = new_members.select(
        F.col(block_col),
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in payload],
    )
    b = existing_members.select(
        F.col(block_col),
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in payload],
    )
    ne = a.join(b, block_col)
    # normalize order (id_a < id_b) without losing payload sides
    ne_ok = ne.where(F.col("id_a") < F.col("id_b"))
    ne_swap = ne.where(F.col("id_a") > F.col("id_b")).select(
        F.col(block_col),
        F.col("id_b").alias("id_a"),
        F.col("id_a").alias("id_b"),
        *[c for cc in payload for c in (F.col(f"{cc}_b").alias(f"{cc}_a"), F.col(f"{cc}_a").alias(f"{cc}_b"))],
    )
    return nn.unionByName(ne_ok.select(*nn.columns)).unionByName(ne_swap.select(*nn.columns))


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

