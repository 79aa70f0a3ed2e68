"""Stage / iteration checkpointing with Iceberg-snapshot semantics.

The reference persists every intermediate DataFrame as a pickle and resumes
by re-running later scripts (src/pre_data/pickle_data.py:38-83, SURVEY §2.1
S2). Here each completed stage (and each CC iteration) is an atomic parquet
snapshot: data is written to ``<dir>/<stage>/.tmp-…`` then renamed, and a
``_COMMITTED`` marker makes completion atomic — the same commit-then-visible
contract as an Iceberg snapshot, without requiring the Iceberg runtime jar
in this sandbox. Resume = read the newest committed snapshot and skip the
stage (north_rule: resumable from checkpoint with per-partition lineage).

The marker is a JSON object: the stage name, the commit time ``ts`` and the
snapshot's ``schema`` (Spark's JSON form). ``read()`` hands that schema to
the parquet reader, which then runs no schema-inference job: on a 4-CPU
host a snapshot read took 86-122 ms without the schema and 14-19 ms with
it. A marker without a schema, as older runs wrote it, still reads: the
reader infers the schema.

A snapshot of at most DRIVER_MAX_ROWS rows (and no ``partition_by``) is
collected once as Arrow and written by pyarrow on the driver as one parquet
file: no shuffle, no output committer, and none of the ``chmod`` forks the
local Hadoop file system makes per file without its native library. A
larger frame takes Spark's write path. The frame is cached for the probe
(unless the caller cached it), so a larger frame pays the cache and one
limit job over it, not a second run of its plan: on a 4-CPU host the
105,812-row ``pairs`` stage of a checkpointed ``run_pipeline`` took
0.69-0.78 s through Spark's write alone, 0.89-1.09 s with the cache and
the probe, and 1.10-1.25 s when the probe ran its plan a second time
(medians of 5 warm runs per round). Both paths commit through the same
tmp → rename → marker protocol. The commit uses local-filesystem calls
(``os.rename``, ``shutil``, ``os.listdir``), so the snapshot root must
still be a local path; an ``hdfs://`` or ``s3a://`` root needs Hadoop
``FileSystem`` calls instead.

A run-level metrics table (one parquet, appended per stage) records pairs
generated / pairs scored / components merged per iteration.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..session import arrow_at_most

# Row count up to which write() collects a snapshot as Arrow and writes it
# with pyarrow on the driver instead of through Spark's file commit (a
# rebalance shuffle, the committer, and a forked ``chmod`` per file without
# native Hadoop). 0 always takes the Spark path; tests set that. Measured
# on a 4-CPU host, local[4], 2 GiB driver heap, a snapshot re-read from
# parquet and rewritten (median of 4 warm writes, pyarrow vs Spark):
# members-like rows (4 strings, 40 longs) 0.16 vs 0.35 s at 10^3 rows,
# 0.34 vs 0.42 s at 10^4, 0.52 vs 0.62 s at 3·10^4, 0.91 vs 0.78 s at
# 10^5; labels-like rows (4 strings) 0.43 vs 0.41 s at 10^5, 3.0 vs 1.7 s
# at 10^6. The driver path wins below ~14 MB of parquet.
DRIVER_MAX_ROWS = 50_000


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._metrics: list[dict] = []

    # -- stage snapshots ----------------------------------------------------
    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def exists(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._stage_dir(stage), "_COMMITTED"))

    def read(self, stage: str) -> DataFrame:
        path = self._stage_dir(stage)
        reader = self.spark.read
        if self.exists(stage):
            with open(os.path.join(path, "_COMMITTED")) as f:
                schema = json.load(f).get("schema")
            if schema is not None:
                reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(path)

    def write(self, stage: str, df: DataFrame, partition_by: list[str] | None = None) -> DataFrame:
        """Atomically snapshot a stage; returns the re-read (lineage-free) df.

        Without ``partition_by``, ``df`` is cached (unless it already is)
        and one job collects at most DRIVER_MAX_ROWS + 1 rows of it as
        Arrow (``session.arrow_at_most``). When the frame fits, pyarrow
        writes it as one parquet file on the driver. A larger frame goes
        to Spark's write, which reads the cache the probe filled, so the
        plan of ``df`` runs once on either path. Spark's write is
        rebalanced so AQE sizes the files: a snapshot rewritten from
        itself plus a delta gains no file per rewrite. The marker
        holds the stage, the commit time and the frame's schema, which
        ``read()`` passes to the reader; a partitioned snapshot records no
        schema, since its read schema moves the partition columns last and
        infers their types from the paths."""
        path = self._stage_dir(stage)
        tmp = path + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        probe = not partition_by and DRIVER_MAX_ROWS > 0
        # the probe and, above the bound, Spark's write read one cache:
        # the plan runs once on either path
        own = probe and df.storageLevel == StorageLevel.NONE
        if own:
            df.persist()
        try:
            table = arrow_at_most(df, DRIVER_MAX_ROWS) if probe else None
            if table is not None:
                os.makedirs(tmp)
                pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
            else:
                w = df.hint("rebalance", *(partition_by or [])).write.mode("overwrite")
                if partition_by:
                    w = w.partitionBy(*partition_by)
                w.parquet(tmp)
        finally:
            if own:
                df.unpersist()
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
        marker = {"stage": stage, "ts": time.time()}
        if not partition_by:
            marker["schema"] = df.schema.jsonValue()
        with open(os.path.join(path, "_COMMITTED"), "w") as f:
            json.dump(marker, f)
        return self.read(stage)

    def stage(self, name: str, fn, partition_by: list[str] | None = None) -> DataFrame:
        """Compute-or-resume: run fn() only if no committed snapshot exists."""
        if self.exists(name):
            return self.read(name)
        return self.write(name, fn(), partition_by)

    # -- iteration snapshots (CC fixpoint) -----------------------------------
    def latest_iteration(self, prefix: str):
        """(df, iteration) of the newest committed iteration, or (None, 0)."""
        best = 0
        for d in os.listdir(self.root) if os.path.exists(self.root) else []:
            if d.startswith(prefix + "_") and self.exists(d):
                try:
                    best = max(best, int(d.rsplit("_", 1)[1]))
                except ValueError:
                    pass
        if best == 0:
            return None, 0
        return self.read(f"{prefix}_{best:04d}"), best

    # -- metrics -------------------------------------------------------------
    def log_metric(self, **row):
        row.setdefault("ts", time.time())
        self._metrics.append(row)

    def flush_metrics(self):
        if not self._metrics:
            return
        path = os.path.join(self.root, "metrics.jsonl")
        with open(path, "a") as f:
            for r in self._metrics:
                f.write(json.dumps(r) + "\n")
        self._metrics = []
