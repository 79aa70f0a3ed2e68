"""SparkSession factory with scale-appropriate defaults.

The reference is single-process pandas (see SURVEY.md §4); here every knob
that matters at 100 TB is set explicitly so the same code runs unchanged on
local[N] and on a multi-executor cluster via ``spark-submit --py-files``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# cgroup v2, then v1: the memory limit of the container this process runs in
CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def machine_memory_bytes() -> int:
    """Memory this process may use: MemTotal, capped by a cgroup limit."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():  # "max" (v2) means no limit
            total = min(total, int(raw))
    return total


def default_cpus() -> int:
    """Core count for local mode: ``$SPARK_GRAFT_CPUS``, else every core."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def default_driver_memory() -> str:
    """Driver heap: ``$SPARK_GRAFT_DRIVER_MEM``, else half the machine.

    In local mode the driver JVM is the only executor. The other half is
    headroom for the JVM's off-heap memory, the Arrow/pandas Python
    workers (one per core) and the OS: a heap sized past physical memory
    grows until the kernel kills the JVM mid-run.
    """
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{machine_memory_bytes() // 2 // 2**20}m"


def get_spark(
    master: str | None = None,
    app_name: str = "jmdfane-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[default_cpus()]``; on a real cluster it
    is supplied by spark-submit and must be left None.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_GRAFT_SUBMITTED"):
        master = f"local[{default_cpus()}]"
    if master:
        builder = builder.master(master)

    if shuffle_partitions is None:
        # Default: 2× parallelism. Partition count should be sized by the
        # DATA, and the one stage where that matters — the candidate-pair
        # stream — sizes itself from the blocking pre-pass
        # (plans/pipeline.py: ~100k pair-rows/task). For everything else
        # 2× cores measures best at the bench core count (sf0.1 local[32]:
        # er_pipeline_full 55.7s / minhash-LSH 26.7s at 64 partitions vs
        # 70.0s / 32.3s at 128 and ~78s at r2's 8×cores=256), and AQE
        # coalesces small shuffles by bytes anyway. Workloads whose
        # per-task sort state outgrows execution memory (e.g. the
        # 14.5M-pair scaling fixture, where 128 is the measured sweet
        # spot) pass shuffle_partitions explicitly, as bench_scaling.py
        # does — a real cluster overrides via spark-submit --conf.
        try:
            n = int(master.split("[")[1].rstrip("]")) if master and "[" in master else default_cpus()
        except ValueError:
            n = default_cpus()
        shuffle_partitions = max(16, 2 * n)

    conf = {
        # Classic (non-ANSI) SQL semantics: silent overflow wrap + null-on-
        # bad-cast, matching the reference's numpy behaviour and keeping
        # hash-based signatures (xxhash64 arithmetic) well-defined.
        "spark.sql.ansi.enabled": "false",
        # AQE: runtime coalescing, skew-join splitting, dynamic join strategy.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Arrow for every pandas UDF / toPandas hop.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # Broadcast threshold: dimension tables (vocab, block stats, salt
        # maps) are small; 64 MB keeps them map-side at 100 TB fact scale.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Parquet scans: pushdown + pruning are on by default; pin anyway.
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # Quiet local UI.
        "spark.ui.enabled": "false",
        "spark.driver.memory": default_driver_memory(),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    # Python workers must be able to import this package no matter the
    # caller's cwd: applyInPandas/mapInPandas closures reference module
    # functions, and the worker daemon (which inherits this env) re-imports
    # the defining module. On a real cluster --py-files does this; locally,
    # put the repo root on PYTHONPATH before the daemon can start.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + existing if existing else "")

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
