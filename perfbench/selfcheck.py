"""Self-check of the benchmark at toy size.

    python3 perfbench/selfcheck.py

Checks that BENCHMARK.json names the same workloads and metrics, with the
same units, as perfbench/spec.py. Then runs every workload at toy size
(--toy --seconds 0: the cold op plus the fewest warm ops) with two seeds,
untraced and traced, and checks that every named metric appears with its
unit and a finite value, that every op passed its correctness checks, and
that the seed changes the inputs but not the set of metric names.
Exits non-zero on the first mismatch.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

import spec

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SEEDS = (1, 2)


def check(ok: bool, what: str) -> None:
    if not ok:
        raise SystemExit(f"selfcheck failed: {what}")


def check_manifest() -> None:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    check([w["name"] for w in bench["workloads"]] == list(spec.WORKLOADS), "workload names")
    for key, names in (("end_to_end", spec.END_TO_END), ("per_layer", spec.PER_LAYER)):
        listed = {m["name"]: m["unit"] for m in bench[key]}
        check(listed == names, f"{key} in BENCHMARK.json differs from spec.py")


def run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", "0", "--trace", str(trace), "--toy"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    check(out.returncode == 0, f"{cmd} exited {out.returncode}:\n{out.stderr[-3000:]}")
    detail, result = (json.loads(line) for line in out.stdout.strip().splitlines()[-2:])
    return detail, result


def check_result(result: dict, names: dict[str, str], what: str) -> None:
    check(set(result) == {"correct", "attempted", "failed", "metrics"}, what)
    check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, what)
    check(set(result["metrics"]) == set(names), f"{what}: metric names")
    for name, m in result["metrics"].items():
        check(m["unit"] == names[name], f"{what}: unit of {name}")
        check(isinstance(m["value"], (int, float)) and math.isfinite(m["value"]),
              f"{what}: value of {name}")


def main() -> int:
    check_manifest()
    for workload in spec.WORKLOADS:
        for trace, names in ((0, spec.END_TO_END), (1, spec.PER_LAYER)):
            digests, name_sets = set(), []
            for seed in SEEDS:
                what = f"{workload} seed {seed} trace {trace}"
                detail, result = run(workload, seed, trace)
                check_result(result, names, what)
                digests.add(detail["inputs_digest"])
                name_sets.append(sorted(result["metrics"]))
                print(f"ok  {what}", flush=True)
            check(len(digests) == len(SEEDS), f"{workload}: the seed did not change the inputs")
            check(all(s == name_sets[0] for s in name_sets), f"{workload}: metric names vary by seed")
    print("selfcheck passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
