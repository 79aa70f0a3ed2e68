"""Process-wide registry of persisted intermediates.

Spark has no scope-exit hook on a lazy DataFrame: operators that must
persist an intermediate (the skinny blocking-key table, signature
evaluation barriers) cannot know when their caller is done materializing
the plans built on top of it. They register the persisted frame here;
pipelines, benchmarks, and tests call :func:`release` once their outputs
are materialized. For plain ``persist()`` frames an early release is
merely slow (the plan recomputes); for ``localCheckpoint()`` frames it is
FINAL — lineage is truncated, so any plan still reading one fails with
CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Call :func:`release` only when every
result built this session has been materialized and will not be read
again (benchmark rep boundaries, test teardown, driver query boundaries);
result-scoped cleanup belongs to ``PipelineResult.release()``, which
unpersists only its own frames. This is executor-memory hygiene for long
sessions (the correctness driver runs 41 queries in a single JVM; r4
VERDICT flagged the leaked persists as free memory pressure at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []


def register(df: DataFrame) -> DataFrame:
    """Record a persisted DataFrame for later bulk release; returns it."""
    _LIVE.append(df)
    return df


def unregister(df: DataFrame) -> None:
    """Drop a frame from the registry (identity match) without touching
    its storage — used by owners that release their frames themselves."""
    for i in range(len(_LIVE) - 1, -1, -1):
        if _LIVE[i] is df:
            del _LIVE[i]


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

