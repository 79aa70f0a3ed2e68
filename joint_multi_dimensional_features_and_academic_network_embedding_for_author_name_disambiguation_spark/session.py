"""SparkSession factory with scale-appropriate defaults.

The reference is single-process pandas (see SURVEY.md §4); here every knob
that matters at 100 TB is set explicitly so the same code runs unchanged on
local[N] and on a multi-executor cluster via ``spark-submit --py-files``.
"""

from __future__ import annotations

import os
import threading

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

# cgroup v2, then v1: the memory limit of the container this process runs in
CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)

# Entries in the JVM-wide cache of compiled generated classes (Spark's
# default: 100). One er_hotblock benchmark op uses 119-135 distinct classes
# and a whole tools/check_oracles.py session 630, so at 100 the LRU cycled:
# a warm op recompiled most of its classes (106 of 131 on one op; 798
# recompiles over the oracle session) and restarted their JIT warm-up.
CODEGEN_CACHE_MAX_ENTRIES = 2000


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
        # Static: read once, when the first session in the JVM starts.
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_MAX_ENTRIES),
        # Keep the stage id out of generated class names: AQE numbers
        # codegen stages in the order query stages finish, so with the id
        # in the name the same plan generated different source on about
        # one warm er_hotblock op in eight and recompiled 4 classes.
        "spark.sql.codegen.useIdInClassName": "false",
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


_EXCLUDED_RULES = "spark.sql.optimizer.excludedRules"
_LIMIT_PUSH_DOWN = "org.apache.spark.sql.catalyst.optimizer.LimitPushDown"
# serializes arrow_at_most's set/restore of the session-wide rule list
_EXCLUDED_RULES_LOCK = threading.Lock()


def arrow_at_most(df: DataFrame, n: int) -> pa.Table | None:
    """``df`` as an Arrow table when it has at most ``n`` rows, else None.

    One job: ``df.limit(n + 1).toArrow()``, planned with LimitPushDown off.
    Pushed into a union's branches or an outer join's kept side, the limit
    is compiled into those codegen stages under a counter whose name
    (``_limit_counter_<k>``) comes from a JVM-wide sequence, so every such
    query compiles new classes (2 per ingest micro-batch when CC collected
    a union of seed and delta edges). Kept on top, it is a CollectLimit,
    which is not generated code.

    The rule list is session-wide conf: a query that another thread plans
    on the same session while the collect runs is optimized without
    LimitPushDown too (same result, possibly a slower plan). Calls in one
    process are serialized, so overlapping calls cannot leave the rule
    off; the function assumes that nothing else sets
    ``spark.sql.optimizer.excludedRules`` on the session meanwhile.
    """
    conf = df.sparkSession.conf
    with _EXCLUDED_RULES_LOCK:
        before = conf.get(_EXCLUDED_RULES, None)
        conf.set(_EXCLUDED_RULES, ",".join(filter(None, (before, _LIMIT_PUSH_DOWN))))
        try:
            table = df.limit(n + 1).toArrow()
        finally:
            if before is None:
                conf.unset(_EXCLUDED_RULES)
            else:
                conf.set(_EXCLUDED_RULES, before)
    return table if table.num_rows <= n else None
