"""Stage / iteration checkpointing with Iceberg-snapshot semantics.

The reference persists every intermediate DataFrame as a pickle and resumes
by re-running later scripts (src/pre_data/pickle_data.py:38-83, SURVEY §2.1
S2). Here each completed stage (and each CC iteration) is an atomic parquet
snapshot: data is written to ``<dir>/<stage>/.tmp-…`` then renamed, and a
``_COMMITTED`` marker makes completion atomic — the same commit-then-visible
contract as an Iceberg snapshot, without requiring the Iceberg runtime jar
in this sandbox. Resume = read the newest committed snapshot and skip the
stage (north_rule: resumable from checkpoint with per-partition lineage).

A run-level metrics table (one parquet, appended per stage) records pairs
generated / pairs scored / components merged per iteration.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession


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
        return self.spark.read.parquet(self._stage_dir(stage))

    def write(self, stage: str, df: DataFrame, partition_by: list[str] | None = None) -> DataFrame:
        """Atomically snapshot a stage; returns the re-read (lineage-free) df.

        Rebalanced so AQE sizes the files: a snapshot rewritten from itself
        plus a delta gains no file per rewrite (without native Hadoop, the
        local file system forks a ``chmod`` per file it creates)."""
        path = self._stage_dir(stage)
        tmp = path + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        w = df.hint("rebalance", *(partition_by or [])).write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
        with open(os.path.join(path, "_COMMITTED"), "w") as f:
            json.dump({"stage": stage, "ts": time.time()}, f)
        return self.spark.read.parquet(path)

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
