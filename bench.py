"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "pairs_scored": N,
   "pairs_per_sec": N, "reps": R, "host_steal_pct": p, ...}

The primary workload is the flagship 3-stage ER pipeline (blocking →
scoring → CC) — the BASELINE.json throughput metric is candidate pairs
scored per second. Additional headline operators (LSH dedup, ANN top-k,
TPC-H-style agg/join/window) cover the rest of the engine surface.

Noise discipline (r4 VERDICT): a single cold-JVM rep on this host
whipsaws ±40% with the guest idle (delivered-clock drift measured by
tools/bench_scaling.py's pure-CPU ceiling brackets). Each query therefore
runs ``SPARK_GRAFT_BENCH_REPS`` times (default 3) in ONE JVM and reports
the per-query MEDIAN, with a /proc/stat steal stamp and the raw pipeline
rep times so a degraded window is visible in the artifact itself.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as entrymod  # noqa: E402
from jmdfane_spark import persist  # noqa: E402
from jmdfane_spark.plans.pipeline import run_pipeline  # noqa: E402
from jmdfane_spark.session import default_cpus, get_spark  # noqa: E402
from jmdfane_spark.sources.tables import documents_as_files  # noqa: E402

HEADLINE = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_topk",
    "eval_pairwise_f1",
    "tpch_pricing_summary",
    "topk_orders_per_customer",
    "txt_quality",
]


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    spark = get_spark(master=f"local[{cpus}]", app_name="jmdfane-bench")

    c_before = _cpu_times()
    total0 = time.time()

    # flagship: full ER pipeline over documents-as-files (brute blocking —
    # this is the pairs-scored throughput workload). Rep 1 includes JVM/
    # codegen warmup; the median of >=3 reps is the reported number.
    pipe_times: list[float] = []
    pairs_scored = 0
    files = documents_as_files(spark, sf_dir)
    for _ in range(reps):
        t0 = time.time()
        res = run_pipeline(
            spark, files, threshold=0.80, use_bands=False, use_tfidf=True,
            max_rows_per_task=300,
        )
        res.labels.count()
        pipe_times.append(round(time.time() - t0, 3))
        pairs_scored = res.metrics["pairs_scored"]
        stage_secs = {k: v for k, v in res.metrics.items() if k.startswith("t_")}
        res.release()  # no cached RDDs carried between reps

    timings: dict[str, float] = {"er_pipeline_full": round(statistics.median(pipe_times), 3)}

    qs = entrymod.queries()
    for name in HEADLINE:
        q_times = []
        for _ in range(reps):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            q_times.append(time.time() - t0)
            persist.release()
        timings[name] = round(statistics.median(q_times), 3)

    wall = round(time.time() - total0, 3)
    c_after = _cpu_times()
    d = [b - a for a, b in zip(c_before, c_after)]
    # /proc/stat cpu fields: user nice system idle iowait irq softirq steal …
    steal_pct = round(100.0 * d[7] / max(1, sum(d)), 2) if len(d) > 7 else None

    total = round(sum(timings.values()), 3)  # one clean pass (medians)
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        # r1-r4 recorded a single cold-JVM pass under this metric name;
        # from r5 `value` is the sum of per-query MEDIANS over `reps`
        # warm reps (the r4 verdict's requested semantics). The raw wall
        # including warmup is `bench_wall_sec`.
        "value_semantics": "sum of per-query medians over reps (one JVM)",
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "pairs_scored": int(pairs_scored),
        "pairs_per_sec": round(pairs_scored / timings["er_pipeline_full"], 1),
        "cpus": int(cpus),
        "reps": reps,
        "pipeline_rep_secs": pipe_times,
        "pipeline_stage_secs": stage_secs,  # last rep (warm)
        "host_steal_pct": steal_pct,
        "bench_wall_sec": wall,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
