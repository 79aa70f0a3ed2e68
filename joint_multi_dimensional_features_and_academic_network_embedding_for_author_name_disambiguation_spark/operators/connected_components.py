"""Stage-3 transitive clustering: connected components, finished on the
driver when the edge set fits, by iterative hash-min rounds when it does not.

The reference computes transitive closure on one machine with
scipy.sparse.csgraph.connected_components after zeroing weak edges
(src/local_embedding/local_embedding.py:337-342, src/cluster_pred/
cluster_predict.py:284-287). The driver finish is its counterpart here:
when the edge table has at most DRIVER_MAX_EDGES rows, one job collects it
as Arrow, a vectorised numpy union-find (``min_label_roots``; scipy is not
a dependency) solves it, and the (id → component) map is broadcast-joined
back onto the vertices.

Larger graphs run the distributed hash-min fixpoint (north_rule stage 3;
Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC 2014):

    label(v) ← min(label(v), min over neighbours u of label(u))

repeated until no label changes. Each iteration is one join + one
min-aggregate; lineage is cut every iteration by a snapshot — a parquet
checkpoint when a CheckpointManager is given (kill-resumable), a
localCheckpoint otherwise — and a per-iteration metrics row (labels
changed) is collected: the north_rule's "components merged per iteration"
lineage metric. When a round moves many labels the edge table is
contracted to its component graph, and that quotient gets the same driver
test before the rounds continue on it.

Labels are the row-id strings themselves (min = lexicographic), so the
final component id is the smallest member id — deterministic, collision-free,
and directly joinable back to the labels table. Both paths give the same
labels.
"""

from __future__ import annotations

import time as _time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import persist as _persist
from ..functions.similarity import sql_name
from ..session import arrow_at_most

# When |V| ≤ this bound, every edge×label join hash-broadcasts the label
# side. Both sides are snapshots (LogicalRDD / parquet re-reads) whose
# Catalyst size estimate is useless, so without the explicit hint every
# round degrades to a SortMergeJoin that sorts the 2|E| edge stream
# (measured: a 23k-row label table still sort-merged against 29M edges).
# Above the bound the shuffle join is the honest plan.
BROADCAST_MAX_VERTICES = 4_000_000
# Pointer-jumping applications composed (lazily) into each round: k jumps
# shrink the remaining label-chain distance 2^k× per round for k−1 extra
# |V|-sized joins folded into the round's single materialization.
JUMPS_PER_ROUND = 2
# Edge count up to which CC collects the edge table (or, right after a
# contraction, the quotient edge table) in one job and finishes on the
# driver instead of running hash-min rounds. 0 turns the driver finish off;
# tests set that to exercise the rounds. Measured on a 4-CPU host,
# local[4], 2 GiB driver heap, random string-id graphs read from parquet:
# collect + solve took 0.45 s at 10^5 edges and 3.5-5.2 s at 10^6, and the
# whole CC including the broadcast join back 1.3 s and 9.4-12.7 s; driver
# Python peak RSS 160 MB and 265 MB, JVM RSS +1.0 GB at 10^6. One
# hash-min round on the same graphs took 1.2 s and 3.0 s (median,
# checkpointed), and every hash-min run needs at least two rounds plus
# the vertex count, so the driver wins below 10^5 always and at 10^6
# once a graph needs four rounds.
DRIVER_MAX_EDGES = 1_000_000


@dataclass
class CCResult:
    """``labels`` holds no cache of CC's own when CC finished on the
    driver or ran with a checkpointer. After hash-min rounds without one
    it is a single eager localCheckpoint registered with :mod:`..persist`:
    ``persist.release()`` frees it, and a read after that fails with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND."""

    labels: DataFrame          # (id, component)
    iterations: int
    metrics: list[dict] = field(default_factory=list)  # per-iteration rows


def _symmetrize(df: DataFrame, s: str, d: str) -> DataFrame:
    # one pass over the input via explode (a two-branch union scans the
    # upstream twice); no distinct(): hash-min's min-aggregate is
    # idempotent to duplicate edges, and a distinct is a full extra
    # shuffle of 2|E| rows
    return df.select(
        F.explode(
            F.array(
                F.struct(F.col(s).alias("src"), F.col(d).alias("dst")),
                F.struct(F.col(d).alias("src"), F.col(s).alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")


def min_label_roots(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Connected components of the graph on vertices 0..n-1 with edges
    (a[k], b[k]): root[v] is the smallest vertex index in v's component.

    Vectorised hook-and-compress union-find. Each round hooks every root
    to the smallest root it shares an edge with, then pointer-jumps every
    vertex to its root. A parent is never larger than its child, so the
    forest stays acyclic and each tree's root is its minimum. An edge
    whose ends share a root stays inside one tree and is dropped; every
    round removes at least one root, and the loop ends with no edge left.
    """
    parent = np.arange(n)
    while True:
        ra, rb = parent[a], parent[b]
        live = ra != rb
        if not live.any():
            return parent
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def _solve_on_driver(edges: pa.Table) -> pa.Table:
    """(id, component) for every endpoint of a collected two-column edge
    table whose component is not itself. Rows with a NULL end are
    dropped: hash-min passes nothing along them either."""
    edges = edges.drop_null()
    m = edges.num_rows
    ends = pa.concat_arrays(
        [edges.column(0).combine_chunks(), edges.column(1).combine_chunks()]
    )
    ids = pc.unique(ends)
    # Arrow orders strings by their UTF-8 bytes, which is code-point order
    # and Spark's string order: the smallest rank is the id Spark's min picks
    ids = ids.take(pc.array_sort_indices(ids))
    codes = pc.index_in(ends, value_set=ids).to_numpy()
    roots = min_label_roots(codes[:m], codes[m:], len(ids))
    moved = np.flatnonzero(roots != np.arange(len(ids)))
    return pa.table({"id": ids.take(moved), "component": ids.take(roots[moved])})


# The label plans below are SQL text: built from Column objects, the
# driver finish's identity select and composition took ~180 py4j round
# trips per call.
def _identity(sym: DataFrame) -> DataFrame:
    # sym holds both directions: src covers every vertex of the graph
    return sym.selectExpr("src AS id").distinct().selectExpr("id", "id AS component")


def _identity_of(vertices: DataFrame, id_col: str) -> DataFrame:
    q = sql_name(id_col)
    return vertices.selectExpr(f"{q} AS id", f"{q} AS component")


def _compose(base: DataFrame, final_map: DataFrame, broadcast: bool) -> DataFrame:
    """id → base component → final component. A base component absent
    from final_map keeps its label: a cluster settled before contracting,
    a singleton, or an id the driver map leaves out (its component is
    itself)."""
    fmap = final_map.selectExpr("id AS _c1", "component AS _cf")
    return (
        base.selectExpr("id", "component AS _c1")
        .join(fmap.hint("broadcast") if broadcast else fmap, "_c1", "left")
        .selectExpr("id", "coalesce(_cf, _c1) AS component")
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    checkpointer=None,
    n_vertices: int | None = None,
    contract_min_changed: int = 100_000,
) -> CCResult:
    """CC over an undirected (id_a, id_b) edge table: component = smallest
    member id.

    When the edge table has at most DRIVER_MAX_EDGES rows it is collected
    in one job and solved on the driver — the counterpart of the
    reference's scipy.sparse.csgraph.connected_components call — and the
    map is broadcast-joined back; the metrics get one row with phase
    "driver". Otherwise hash-min rounds run to their fixpoint.

    vertices: one row per id (isolated vertices become singletons). Every
    edge end must be a vertex.
    edges: unordered pairs; symmetrized internally.
    checkpointer: optional plans.checkpoint.CheckpointManager — when given,
    every snapshot is a committed parquet stage (the driver's map is
    ``cc_driver``) and a rerun over the same directory resumes from the
    newest committed one.
    n_vertices: pass |V| when the caller already knows it (the pipeline
    counts members once) — skips the broadcast gate's count job.
    contract_min_changed: when a round changes at least this many labels,
    the edge table is CONTRACTED to the distinct component graph
    {(label(u), label(v)): label(u) ≠ label(v)}. That quotient is finished
    on the driver when it fits; otherwise the fixpoint continues on it,
    with final labels composed through the contraction map — every later
    round's 2|E|-row join becomes a near-empty one. Below ~10^5 moving
    labels the remaining broadcast rounds cost no more than the
    contraction pass itself; 0 forces contraction after the first round
    that changes anything.

    The loop ends when a round changes no label. It terminates: every
    other round lowers at least one label in a finite ordered set, and
    pointer jumping makes the round count O(log diameter).

    CC frees every snapshot it takes before it returns. The driver finish
    and checkpointed runs return labels that read no cache; after
    hash-min rounds without a checkpointer the labels are one eager
    localCheckpoint (composed through the contraction map first, if one
    was taken), owned by the ``persist`` registry.
    """

    def _snapshot(name: str, df: DataFrame, eager: bool = False) -> DataFrame:
        # cut lineage: a committed parquet stage when resumable, else a
        # localCheckpoint that the first action reading it materializes
        if checkpointer is not None:
            return checkpointer.write(name, df)
        return df.localCheckpoint(eager=eager)

    metrics: list[dict] = []
    it = 0

    def _finish_on_driver(pairs: DataFrame) -> DataFrame | None:
        # one job: collect at most DRIVER_MAX_EDGES + 1 edges; when they
        # all came back, the driver map of moved ids, else None
        nonlocal it
        t0 = _time.time()
        m = None
        if checkpointer is not None and checkpointer.exists("cc_driver"):
            cmap = checkpointer.read("cc_driver")
        else:
            if DRIVER_MAX_EDGES <= 0:
                return None
            collected = arrow_at_most(pairs, DRIVER_MAX_EDGES)
            if collected is None:
                return None
            m = collected.num_rows
            cmap = pairs.sparkSession.createDataFrame(_solve_on_driver(collected))
            if checkpointer is not None:
                cmap = checkpointer.write("cc_driver", cmap)
        it += 1
        metrics.append({
            "iteration": it,
            "phase": "driver",
            "edges": m,  # None: read back from the committed map
            "labels_changed": 0,
            "wall_sec": round(_time.time() - t0, 3),
        })
        return cmap

    # Resume INTO the quotient phase when both contraction snapshots are
    # committed (qedges is written before base_labels, so base committed
    # ⇒ both valid): the original edge table is never touched again.
    labels = base_labels = qedges = None
    prefix = "cc_labels"
    if checkpointer is not None:
        if checkpointer.exists("cc_base_labels") and checkpointer.exists("cc_qedges"):
            base_labels = checkpointer.read("cc_base_labels")
            qedges = checkpointer.read("cc_qedges")
            prefix = "cc_qlabels"
        labels, it = checkpointer.latest_iteration(prefix)

    def _result(labels: DataFrame, *spent: DataFrame) -> CCResult:
        # `spent`: the snapshots `labels` still reads. Without a
        # checkpointer they are localCheckpoints, so `labels` is
        # snapshotted once and registered before they are freed; with one
        # they are parquet reads and freeing them is a no-op
        if spent and checkpointer is None:
            labels = _persist.register(labels.localCheckpoint(eager=True))
        for df in spent:
            _persist.unpersist_any(df)
        return CCResult(labels=labels, iterations=it, metrics=metrics)

    # A phase that starts here first tries to finish on the driver; a
    # resumed phase already ran rounds because its edges did not fit.
    if labels is None:
        final = _finish_on_driver(
            edges.selectExpr("id_a", "id_b") if qedges is None else qedges.selectExpr("src", "dst")
        )
        if final is not None and base_labels is None:
            return _result(_compose(_identity_of(vertices, id_col), final, True))
        if final is not None:  # resumed, so base_labels is parquet
            return _result(_compose(base_labels, final, True))

    if qedges is None:
        sym = _symmetrize(edges, "id_a", "id_b").persist()
    else:
        sym = _symmetrize(qedges, "src", "dst").persist()

    # identity labels (label(v) == v) make the first round's messages
    # just min(src) per dst — one agg over the cached edge table, no
    # edge×label join
    identity_labels = labels is None
    snap = None  # the snapshot backing `labels`, freed once superseded
    if labels is None and base_labels is not None:
        # killed right after contracting: restart the quotient fixpoint
        labels = _identity(sym)
    elif labels is None:
        # lazy: the broadcast gate's count (or round 1) materializes it
        labels = snap = _identity_of(vertices, id_col).localCheckpoint(eager=False)

    if n_vertices is None:
        n_vertices = labels.count()
    small_v = n_vertices <= BROADCAST_MAX_VERTICES

    def _b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_v else df

    changed_agg = F.coalesce(
        F.sum(F.coalesce(F.col("_changed").cast("long"), F.lit(0))), F.lit(0)
    ).alias("n")
    while True:
        it += 1
        _it_t0 = _time.time()
        # candidate labels flowing along edges
        if identity_labels:
            msgs = sym.groupBy(F.col("dst").alias("id")).agg(
                F.min("src").alias("nbr_component")
            )
            identity_labels = False
        else:
            msgs = (
                sym.join(_b(labels.withColumnRenamed("id", "src")), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("component").alias("nbr_component"))
            )
        new_labels = labels.join(_b(msgs), "id", "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
            ).alias("component"),
            (F.col("nbr_component") < F.col("component")).alias("_changed"),
        )
        # snapshot ONCE, then read the convergence count from it: in
        # memory the lazy localCheckpoint is materialized by this agg, so
        # a round is one Spark job (counting on the lazy plan and then
        # checkpointing executed the whole join pipeline twice)
        flagged = _snapshot(f"{prefix}_{it:04d}", new_labels)
        changed = flagged.agg(changed_agg).collect()[0]["n"]
        if snap is not None:  # `flagged` no longer reads it
            _persist.unpersist_any(snap)
        snap = flagged
        labels = flagged.drop("_changed")
        metrics.append({
            "iteration": it,
            "labels_changed": int(changed),
            "wall_sec": round(_time.time() - _it_t0, 3),
            "phase": "quotient" if base_labels is not None else "full",
        })
        if changed == 0:
            break
        # pointer jumping: component ← label(component). Identity at the
        # fixpoint (labels constant per component), so the edge-based
        # convergence test is untouched.
        for _ in range(JUMPS_PER_ROUND):
            jmap = labels.select(
                F.col("id").alias("component"), F.col("component").alias("_c2")
            )
            labels = labels.join(_b(jmap), "component", "left").select(
                "id", F.coalesce(F.col("_c2"), F.col("component")).alias("component")
            )
        if base_labels is None and changed >= contract_min_changed:
            # contract ONE direction of each edge (src < dst) — half the
            # rows through both label joins and the distinct — then
            # re-symmetrize. connectivity (and the min-id fixpoint) is
            # preserved; labels compose at the end.
            lab_src = labels.select(F.col("id").alias("src"), F.col("component").alias("_ls"))
            lab_dst = labels.select(F.col("id").alias("dst"), F.col("component").alias("_ld"))
            canon = (
                sym.where(F.col("src") < F.col("dst"))
                .join(_b(lab_src), "src")
                .join(_b(lab_dst), "dst")
                .where(F.col("_ls") != F.col("_ld"))
                .select(
                    F.least("_ls", "_ld").alias("src"),
                    F.greatest("_ls", "_ld").alias("dst"),
                )
                .distinct()
            )
            # edges FIRST, base map LAST — resume enters the quotient phase
            # only when base_labels is committed, so a crash between the
            # writes replays the contraction instead of composing a stale
            # map. Both are eager, so nothing reads `sym` or `snap` again.
            qedges = _snapshot("cc_qedges", canon, eager=True)
            base_labels = _snapshot("cc_base_labels", labels, eager=True)
            _persist.unpersist_any(sym)
            _persist.unpersist_any(snap)
            snap = None
            final = _finish_on_driver(qedges.selectExpr("src", "dst"))
            if final is not None:
                return _result(_compose(base_labels, final, True), base_labels, qedges)
            sym = _symmetrize(qedges, "src", "dst").persist()
            labels = _identity(sym)
            prefix = "cc_qlabels"
            identity_labels = True
            # the quotient vertex set is usually orders of magnitude
            # smaller — re-evaluate the broadcast gate on it
            if not small_v:
                small_v = labels.count() <= BROADCAST_MAX_VERTICES

    _persist.unpersist_any(sym)
    if base_labels is None:
        return _result(labels, snap)
    return _result(_compose(base_labels, labels, small_v), snap, base_labels, qedges)
