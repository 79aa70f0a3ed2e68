"""Process-wide registry of persisted intermediates.

One rule covers every persisted frame: a function frees each intermediate
it persists before it returns, except the frame it returns, and that frame
has one owner. ``run_pipeline``'s intermediates (members, pairs, scores)
are localCheckpoint leaves that it frees itself, and it hands its labels
snapshot to the ``PipelineResult`` (``release()`` frees it). Operators
that return a bare DataFrame (the skinny blocking-key table, the dedup
barriers, CC's labels after hash-min rounds, the random walks) cannot
know when their caller is done with it, so they register it here, and
callers run :func:`release` once the results built on it are
materialized. For plain ``persist()`` frames an early release is merely
slow (the plan recomputes); for ``localCheckpoint()`` frames it is
final: lineage is truncated, so a plan still reading one fails with
CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. So does a read after the executor
holding a localCheckpoint block is lost: nothing recomputes it. A run
that must survive executor loss writes parquet snapshots
(``run_pipeline(checkpoint_dir=...)``) and resumes from them. Benchmark
rep boundaries, test teardown and driver query boundaries are the safe
points. This is executor-memory hygiene for long sessions (the
correctness driver runs 41 queries in a single JVM).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []


def register(df: DataFrame) -> DataFrame:
    """Record a persisted DataFrame for later bulk release; returns it."""
    _LIVE.append(df)
    return df


def unpersist_any(df: DataFrame) -> None:
    """Unpersist whether the frame was cached via ``persist()`` or
    ``localCheckpoint()``. localCheckpoint persists the underlying RDD
    directly — the CacheManager never sees it, so ``DataFrame.unpersist``
    is a silent no-op there (verified: the RDD stays in
    ``getPersistentRDDs``). Reach the checkpointed RDD through the
    analyzed ``LogicalRDD`` plan instead."""
    try:
        df.unpersist()
    except Exception:  # noqa: BLE001 — session may already be gone
        pass
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — non-LogicalRDD plans / dead session
        pass


def release() -> int:
    """Unpersist every registered DataFrame; returns how many."""
    n = 0
    for df in _LIVE:
        unpersist_any(df)
        n += 1
    _LIVE.clear()
    return n

