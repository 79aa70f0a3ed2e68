"""Stage-3 transitive clustering: iterative hash-min connected components.

The reference computes transitive closure with
scipy.sparse.csgraph.connected_components after zeroing weak edges
(src/local_embedding/local_embedding.py:337-342, src/cluster_pred/
cluster_predict.py:284-287). That is a single-machine dense operation; the
distributed equivalent (north_rule stage 3) is the hash-min fixpoint:

    label(v) ← min(label(v), min over neighbours u of label(u))

repeated until no label changes. Each iteration is one join + one
min-aggregate; lineage is cut every iteration by a snapshot — a parquet
checkpoint when a CheckpointManager is given (kill-resumable), a
localCheckpoint otherwise — and a per-iteration metrics row (labels
changed) is collected: the north_rule's "components merged per iteration"
lineage metric.

Labels are the row-id strings themselves (min = lexicographic), so the
final component id is the smallest member id — deterministic, collision-free,
and directly joinable back to the labels table.
"""

from __future__ import annotations

import time as _time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import persist as _persist

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


@dataclass
class CCResult:
    labels: DataFrame          # (id, component)
    iterations: int
    metrics: list[dict] = field(default_factory=list)  # per-iteration rows
    persists: list = field(default_factory=list)  # snapshots still backing `labels`
    # (superseded snapshots are freed DURING the run; the final one — and
    # the contraction base — must outlive `labels`, so they are handed to
    # the caller to unpersist after materializing)


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


def _identity(sym: DataFrame) -> DataFrame:
    # sym holds both directions: src covers every vertex of the graph
    return sym.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("component")
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    checkpointer=None,
    n_vertices: int | None = None,
    contract_min_changed: int = 100_000,
) -> CCResult:
    """Hash-min CC over an undirected (id_a, id_b) edge table, run to its
    fixpoint.

    vertices: one row per id (isolated vertices become singletons).
    edges: unordered pairs; symmetrized internally.
    checkpointer: optional plans.checkpoint.CheckpointManager — when given,
    every snapshot is a committed parquet stage and a rerun over the same
    directory resumes from the newest committed iteration.
    n_vertices: pass |V| when the caller already knows it (the pipeline
    counts members once) — skips the broadcast gate's count job.
    contract_min_changed: when a round changes at least this many labels,
    the edge table is CONTRACTED to the distinct component graph
    {(label(u), label(v)): label(u) ≠ label(v)} and the fixpoint continues
    on that (usually tiny) graph, with final labels composed through the
    contraction map — every later round's 2|E|-row join becomes a
    near-empty one. Below ~10^5 moving labels the remaining broadcast
    rounds cost no more than the contraction pass itself; 0 forces
    contraction after the first round that changes anything.

    The loop ends when a round changes no label. It terminates: every
    other round lowers at least one label in a finite ordered set, and
    pointer jumping makes the round count O(log diameter).
    """

    def _snapshot(name: str, df: DataFrame, eager: bool = False) -> DataFrame:
        # cut lineage: a committed parquet stage when resumable, else a
        # localCheckpoint that the first action reading it materializes
        if checkpointer is not None:
            return checkpointer.write(name, df)
        return df.localCheckpoint(eager=eager)

    # Resume INTO the quotient phase when both contraction snapshots are
    # committed (qedges is written before base_labels, so base committed
    # ⇒ both valid): the original edge table is never touched again.
    labels = base_labels = qedges = None
    prefix, start_iter = "cc_labels", 0
    if checkpointer is not None:
        if checkpointer.exists("cc_base_labels") and checkpointer.exists("cc_qedges"):
            base_labels = checkpointer.read("cc_base_labels")
            qedges = checkpointer.read("cc_qedges")
            prefix = "cc_qlabels"
        labels, start_iter = checkpointer.latest_iteration(prefix)
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
        labels = snap = vertices.select(
            F.col(id_col).alias("id"), F.col(id_col).alias("component")
        ).localCheckpoint(eager=False)

    if n_vertices is None:
        n_vertices = labels.count()
    small_v = n_vertices <= BROADCAST_MAX_VERTICES

    def _b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_v else df

    changed_agg = F.coalesce(
        F.sum(F.coalesce(F.col("_changed").cast("long"), F.lit(0))), F.lit(0)
    ).alias("n")
    metrics: list[dict] = []
    it = start_iter
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
            sym = _symmetrize(qedges, "src", "dst").persist()
            labels = _identity(sym)
            prefix = "cc_qlabels"
            identity_labels = True
            # the quotient vertex set is usually orders of magnitude
            # smaller — re-evaluate the broadcast gate on it
            if not small_v:
                small_v = labels.count() <= BROADCAST_MAX_VERTICES

    _persist.unpersist_any(sym)
    persists = [snap]
    if base_labels is not None:
        _persist.unpersist_any(qedges)  # only sym read it
        # compose: original id → comp1 → final component. Components whose
        # comp1 label never appeared in the contracted graph (clusters
        # already settled before contracting, singletons) keep comp1.
        final_map = labels.select(F.col("id").alias("_c1"), F.col("component").alias("_cf"))
        labels = (
            base_labels.withColumnRenamed("component", "_c1")
            .join(_b(final_map), "_c1", "left")
            .select("id", F.coalesce(F.col("_cf"), F.col("_c1")).alias("component"))
        )
        persists.append(base_labels)
    # also in the process-wide registry so standalone callers (driver
    # queries, benches) can bulk-release; double-unpersist is a no-op
    for _df in persists:
        _persist.register(_df)
    return CCResult(labels=labels, iterations=it, metrics=metrics, persists=persists)
