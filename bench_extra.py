"""Round-6 optimization profiling harness (guide §1: measure first).

NOT the driver bench — bench.py is frozen. This file isolates per-stage
and per-rep costs so optimizations target the real hot spots:

  * er_pipeline_full: per-rep stage seconds (incl. the cold rep 1, which
    bench.py's median includes), CC per-iteration wall, steal stamp.
  * each headline query: per-rep wall with a noop-equivalent count.

Usage: python bench_extra.py [reps]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as bench.py).
"""

from __future__ import annotations

import json
import os
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


def _cpu() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal(c0: list[int], c1: list[int]) -> float:
    d = [b - a for a, b in zip(c0, c1)]
    return round(100.0 * d[7] / max(1, sum(d)), 2) if len(d) > 7 else -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    spark = get_spark(master=f"local[{cpus}]", app_name="jmdfane-bench-extra")

    out: dict = {"sf_dir": sf_dir, "cpus": int(cpus), "pipeline_reps": []}
    files = documents_as_files(spark, sf_dir)
    for r in range(reps):
        c0 = _cpu()
        t0 = time.time()
        spark.sparkContext.setJobDescription(f"pipeline rep {r}")
        res = run_pipeline(
            spark, files, threshold=0.80, use_bands=False, use_tfidf=True,
            max_rows_per_task=300,
        )
        res.labels.count()
        wall = round(time.time() - t0, 3)
        rep = {
            "rep": r,
            "wall": wall,
            "stages": {k: v for k, v in res.metrics.items() if k.startswith("t_")},
            "cc_iterations": res.metrics.get("cc_iterations"),
            "cc_metrics": res.metrics.get("cc_metrics"),
            "pairs": res.metrics.get("pairs_scored"),
            "pair_partitions": res.metrics.get("pair_partitions"),
            "steal_pct": _steal(c0, _cpu()),
        }
        out["pipeline_reps"].append(rep)
        res.release()
        print(json.dumps(rep), flush=True)

    qs = entrymod.queries()
    out["queries"] = {}
    for name in HEADLINE:
        times = []
        for r in range(reps):
            c0 = _cpu()
            t0 = time.time()
            spark.sparkContext.setJobDescription(f"{name} rep {r}")
            qs[name](spark, sf_dir).count()
            times.append(round(time.time() - t0, 3))
            persist.release()
        out["queries"][name] = {"reps": times, "steal_pct": _steal(c0, _cpu())}
        print(json.dumps({name: out["queries"][name]}), flush=True)

    print("FINAL " + json.dumps(out))


if __name__ == "__main__":
    main()
