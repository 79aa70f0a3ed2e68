"""Spans around the benchmark's calls into each layer, plus Spark job spans
read back from the driver's status store (it is kept with the UI off).

Spans live in memory and are written out once, at the end of a traced run.
A span's self time is its duration minus the part its children cover.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from spec import SPARK_FIELDS

PIPELINE_LABELS = {
    "er_pipeline: stage0": "normalize",
    "er_pipeline: stage1": "blocking",
    "er_pipeline: stage2": "scoring",
    "er_pipeline: stage3": "cc",
}
INGEST_PREFIX = "perfbench ingest"


def spark_label(desc: str | None) -> str:
    """Job description -> Spark label; jobs without one are the op's tail."""
    if desc:
        if desc.startswith(INGEST_PREFIX):
            return "ingest"
        for prefix, label in PIPELINE_LABELS.items():
            if desc.startswith(prefix):
                return label
    return "tail"


class Tracer:
    """Records spans when ``on``; a no-op context otherwise."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self.group: str | None = None
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        s = {"id": len(self.spans), "name": name, "group": self.group,
             "parent": self._stack[-1]["id"] if self._stack else None,
             "start": time.time(), "end": None}
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def add_job_spans(self, jobs: list[dict]) -> None:
        """Attach each Spark job as a child of the deepest benchmark span of
        its group that was open when the job was submitted. Jobs outside
        every span (the correctness check after an op) are not attached."""
        for j in jobs:
            owner = None
            for s in self.spans:
                if (s["group"] == j["group"] and s["name"].split(".")[0] != "spark"
                        and s["start"] <= j["start"] <= s["end"]):
                    owner = s  # later spans of a group nest inside earlier ones
            if owner is None:
                continue
            self.spans.append({"id": len(self.spans), "name": f"spark.{j['label']}",
                               "group": j["group"], "parent": owner["id"],
                               "start": j["start"], "end": j["end"], "job": j["id"]})

    def self_times(self, group: str) -> dict[str, float]:
        """Sum of self time per span name within one op group."""
        spans = [s for s in self.spans if s["group"] == group]
        out: dict[str, float] = {}
        for s in spans:
            kids = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                          for c in spans if c["parent"] == s["id"])
            covered, cur_end = 0.0, s["start"]
            for a, b in kids:
                a = max(a, cur_end)
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class StatusStore:
    """Job and stage metrics from ``sc._jsc.sc().statusStore()``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters

    def _list(self, seq):
        return list(self._conv.asJava(seq))

    @staticmethod
    def _opt(o):
        return o.get() if o.isDefined() else None

    def jobs(self, group: str) -> list[dict]:
        out = []
        for j in self._list(self._store.jobsList(None)):
            if self._opt(j.jobGroup()) != group:
                continue
            sub, end = self._opt(j.submissionTime()), self._opt(j.completionTime())
            out.append({"id": j.jobId(), "group": group,
                        "label": spark_label(self._opt(j.description())),
                        "start": sub.getTime() / 1000.0 if sub else 0.0,
                        "end": end.getTime() / 1000.0 if end else time.time(),
                        "stages": [int(s) for s in self._list(j.stageIds())]})
        return sorted(out, key=lambda j: j["id"])

    def label_metrics(self, jobs: list[dict], cores: int) -> dict[str, dict[str, float]]:
        """Per Spark label: task/CPU/GC time, shuffle, spill, tasks, the
        max/median task time of its heaviest stage, and core utilisation.
        A stage reused by a later job counts once, for its first job."""
        gw, jvm = self._sc._gateway, self._sc._jvm
        stages = {}
        for s in self._list(self._store.stageList(None, False, False, gw.new_array(jvm.double, 0), None)):
            if s.status().toString() == "COMPLETE":
                stages.setdefault(s.stageId(), []).append(s)
        seen: set[int] = set()
        by_label: dict[str, dict] = {}
        for j in jobs:
            m = by_label.setdefault(j["label"], {k: 0.0 for k in SPARK_FIELDS} | {
                "_start": j["start"], "_end": j["end"], "_heavy": None})
            m["_start"], m["_end"] = min(m["_start"], j["start"]), max(m["_end"], j["end"])
            for sid in j["stages"]:
                if sid in seen or sid not in stages:
                    continue
                seen.add(sid)
                for s in stages[sid]:
                    run_s = s.executorRunTime() / 1e3
                    m["task_s"] += run_s
                    m["cpu_s"] += s.executorCpuTime() / 1e9
                    m["gc_s"] += s.jvmGcTime() / 1e3
                    m["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
                    m["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
                    m["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
                    m["tasks"] += s.numCompleteTasks()
                    if m["_heavy"] is None or run_s > m["_heavy"][0]:
                        m["_heavy"] = (run_s, s.stageId(), s.attemptId())
        q = gw.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        for m in by_label.values():
            heavy = m.pop("_heavy")
            if heavy:
                dist = self._opt(self._store.taskSummary(heavy[1], heavy[2], q))
                if dist is not None:
                    med, mx = dist.executorRunTime().apply(0), dist.executorRunTime().apply(1)
                    m["task_skew"] = mx / med if med > 0 else 1.0
            wall = m.pop("_end") - m.pop("_start")
            m["core_util"] = m["task_s"] / (wall * cores) if wall > 0 else 0.0
        return by_label


def median_of(samples: list[dict], key: str) -> float:
    vals = [s[key] for s in samples if key in s]
    return float(statistics.median(vals)) if vals else 0.0
