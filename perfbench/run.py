"""Seeded benchmark of the ER engine: end to end, or per layer with --trace 1.

    python3 perfbench/run.py --workload er_hotblock --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process runs the engine at
local[<cores>] with a pinned driver heap, as a closed loop with a single
client: the next op starts only after the previous op's labels are
materialized. The first op in the fresh JVM is reported apart
(cold_op_s); warm ops repeat until --seconds have passed and at least the
workload's min_warm of them have run. Every op's labels are checked (row
count, content hash per row, micro pairwise F1); a failed check fails the
op.

Output: one detail JSON line (raw per-op times, host stamps, inputs
fingerprint), then the result line
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
--trace 1 reports the per-layer metrics instead of the end-to-end ones,
writes the spans to .perfbench_out/, and exits non-zero if any op failed.
Every file it writes stays under the checkout: .perfbench_work/ (removed
at exit) and .perfbench_out/.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

import host
import kernels
import spec
import workloads
from spans import StatusStore, Tracer, median_of

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"
DRIVER_MEM = "2g"
SETUP_REPS = 3


def pin_environment() -> int:
    """Size the session for this machine and keep Spark's scratch files in
    the checkout. Must run before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(WORK / "tmp"),
    })
    tempfile.tempdir = None
    return cores


def start_session(er, cores: int):
    return er["session"].get_spark(
        master=f"local[{cores}]", app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(WORK / "spark-local"),
            # a fixed-size heap, every page touched at start: peak RSS then
            # does not depend on how much of the heap G1 chose to use
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={WORK / 'tmp'}",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it ran in, and wait for every child."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    host.reap_children(timeout=30)


def is_dead_jvm(exc: BaseException) -> bool:
    names = {type(e).__name__ for e in (exc, exc.__cause__, exc.__context__) if e}
    return bool(names & {"Py4JNetworkError", "ConnectionRefusedError", "ConnectionResetError"})


def layer_metrics(*, pipe, ingest, spark_by_group, self_by_group, checks, n_files,
                  start_s, gen_s, kernels, traced_walls, untraced_walls, n_spans) -> dict:
    m: dict[str, float] = {"session.start_s": start_s, "sources.generate_s": gen_s}
    stages = ("normalize", "blocking", "scoring", "cc")
    for st in stages:
        m[f"pipeline.{st}_s"] = median_of(pipe, f"t_{st}")
    derived = []
    for p in pipe:
        derived.append({
            "tail": p["_wall"] - sum(p[f"t_{st}"] for st in stages),
            "per_file": p["pairs_generated"] / max(n_files, 1),
            "dup": p["pairs_generated"] / max(p["pairs_estimated"], 1),
            "pps": p["pairs_scored"] / max(p["t_scoring"], 1e-3),
            "changed": sum(r.get("labels_changed", 0) for r in p.get("cc_metrics", [])),
        })
    m["pipeline.tail_s"] = median_of(derived, "tail")
    m["pairs.estimated"] = median_of(pipe, "pairs_estimated")
    m["pairs.generated"] = median_of(pipe, "pairs_generated")
    m["pairs.partitions"] = median_of(pipe, "pair_partitions")
    m["pairs.per_file"] = median_of(derived, "per_file")
    m["pairs.dup_ratio"] = median_of(derived, "dup")
    m["scoring.pairs_scored"] = median_of(pipe, "pairs_scored")
    m["scoring.pairs_per_s"] = median_of(derived, "pps")
    m["cc.iterations"] = median_of(pipe, "cc_iterations")
    m["cc.labels_changed"] = median_of(derived, "changed")
    m["cc.components"] = median_of(checks, "components")
    m["cc.largest_share"] = median_of(checks, "largest_share")
    for k in ("ingest.normalize_s", "ingest.delta_pairs_s", "ingest.score_s", "ingest.merge_s",
              "ingest.delta_pairs", "checkpoint.write_s", "checkpoint.bytes_mb",
              "checkpoint.write_amp"):
        m[k] = median_of(ingest, k)
    for st in spec.SPARK_LABELS:
        samples = [g[st] for g in spark_by_group if st in g]
        for f in spec.SPARK_FIELDS:
            m[f"spark.{st}.{f}"] = median_of(samples, f)
    m.update(kernels)
    for s in spec.SPANS:
        m[f"self.{s}_s"] = median_of(self_by_group, s)
    m["trace.overhead_s"] = (statistics.median(traced_walls) - statistics.median(untraced_walls)
                             if traced_walls and untraced_walls else 0.0)
    m["trace.spans"] = n_spans
    return m


class Bench:
    """One run: set up the inputs, run the ops, collect what they measured."""

    def __init__(self, er, spark, args, cores: int, start_s: float):
        self.er, self.spark, self.args, self.cores = er, spark, args, cores
        self.start_s, self.lane_s = start_s, 0.0
        self.cfg = spec.WORKLOADS[args.workload]
        self.trace = bool(args.trace)
        self.tracer = Tracer(False)
        self.ops: list[dict] = []
        # traced samples: pipeline metrics, ingest metrics, label checks, op groups
        self.pipe, self.ingest, self.checks, self.groups = [], [], [], []

    def _group(self, group: str, traced: bool) -> None:
        self.spark.sparkContext.setJobGroup(group, f"perfbench {group}")
        self.tracer.on, self.tracer.group = traced, group

    def setup(self) -> None:
        args, cfg = self.args, self.cfg
        gen = {**cfg["gen"], **(spec.TOY[args.workload] if args.toy else {})}
        slice_files = spec.TOY_SLICE_FILES if args.toy else cfg.get("slice_files", 0)
        self.gen_times = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.inp = workloads.generate(self.er, cfg, gen, args.seed, str(WORK / "inputs"),
                                          slice_files)
            self.gen_times.append(time.perf_counter() - t0)
        self.gen_s = statistics.median(self.gen_times)
        self.setup_s = self.start_s + self.gen_s
        self.files = self.spark.read.parquet(self.inp.files_path)
        self.expect = set(self.inp.sha) - {i for ids in self.inp.slice_ids for i in ids}
        self.per_op_files = self.inp.n_files
        if cfg["kind"] == "ingest":
            self.ing = workloads.Ingest(self.er, self.spark, str(WORK / "state"), spec.TAU)
            self.per_op_files = slice_files

    def _op(self, k: int) -> tuple[dict, list]:
        """Batch: run the pipeline. Ingest: op 0 resolves and commits the
        base corpus, op k folds in held-out slice k - 1."""
        if self.cfg["kind"] == "batch":
            return workloads.batch_op(self.er, self.spark, self.files, self.cfg["run"],
                                      self.tracer)
        if k == 0:
            return self.ing.commit_base(self.inp, self.cfg["run"], self.tracer)
        path = self.inp.slices[k - 1]
        out = self.ing.op(path, os.path.getsize(path), self.tracer)
        self.expect |= set(self.inp.slice_ids[k - 1])
        return out

    def run_ops(self) -> None:
        """Cold op, then the workload's warm-up ops, then timed warm ops,
        until --seconds of warm ops (warm-up included) have passed and at
        least the workload's min_warm timed ops (traced: one ABBA round of
        four) have run, or the ingest slices run out."""
        min_warm = max(self.cfg["min_warm"], 4) if self.trace else self.cfg["min_warm"]
        warmup = self.cfg["warmup"]
        t_warm = None
        ingest = self.cfg["kind"] == "ingest"
        n_ops = len(self.inp.slices) + 1 if ingest else None
        for k in itertools.count():
            warm = k - 1 - warmup  # index among the timed warm ops
            if k >= 1:
                t_warm = t_warm or time.perf_counter()
                if warm >= min_warm and time.perf_counter() - t_warm >= self.args.seconds:
                    break
            if n_ops is not None and k >= n_ops:
                break
            # warm ops traced/untraced in ABBA order, so a warm-up trend cancels
            # in the overhead; the ingest base commit is traced for its
            # pipeline layers
            traced = self.trace and ((ingest and k == 0) or (warm >= 0 and warm % 4 in (0, 3)))
            group = f"op{k}"
            self._group(group, traced)
            rec = {"op": k, "cold": k == 0, "warmup": 0 < k <= warmup, "traced": traced}
            self.ops.append(rec)
            try:
                m, rows = self._op(k)
                chk = workloads.check_labels(rows, self.inp, self.expect)
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                rec["errors"] = [f"{type(exc).__name__}: {exc}"]
                if is_dead_jvm(exc):
                    self.trace = False  # nothing left to read traces from
                    return
                continue
            rec.update(wall_s=m["_wall"], f1=chk["f1"], errors=chk["errors"])
            # the op's own stage timers: the pipeline's t_<stage>, or the ingest steps
            rec["stage_s"] = {k: m[k] for k in m if k.startswith("t_") or k.endswith("_s")}
            if traced:
                (self.ingest if ingest and k else self.pipe).append(m)
                self.checks.append(chk)
                self.groups.append(group)

    def per_layer(self) -> dict[str, float]:
        """Status-store metrics and self times per traced op, then the
        kernel lane; call while the session is up."""
        store = StatusStore(self.spark)
        spark_by_group, self_by_group = [], []
        for g in self.groups:
            jobs = store.jobs(g)
            self.tracer.add_job_spans(jobs)
            spark_by_group.append(store.label_metrics(jobs, self.cores))
            st = self.tracer.self_times(g)
            if g == "op0":
                st.pop("op", None)  # the ingest base commit is not a warm op
            self_by_group.append(st)
        self._group("kernels", False)
        t0 = time.perf_counter()
        lane = kernels.kernel_lane(self.er, self.spark, self.files)
        self.lane_s = time.perf_counter() - t0
        walls = lambda traced: [o["wall_s"] for o in self.timed() if o["traced"] == traced]  # noqa: E731
        return layer_metrics(
            pipe=self.pipe, ingest=self.ingest, spark_by_group=spark_by_group,
            self_by_group=self_by_group, checks=self.checks, n_files=self.inp.n_files,
            start_s=self.start_s, gen_s=self.gen_s, kernels=lane,
            traced_walls=walls(True), untraced_walls=walls(False),
            n_spans=len(self.tracer.spans))

    def timed(self) -> list[dict]:
        """The warm ops op_s_p50 is taken over: not cold, not warm-up, passed."""
        return [o for o in self.ops if not (o["cold"] or o["warmup"] or o["errors"])]

    def end_to_end(self, peak_rss_mb: float) -> dict[str, float]:
        cold = [o["wall_s"] for o in self.ops if o["cold"] and not o["errors"]]
        warm = [o["wall_s"] for o in self.timed() if not o["traced"]]
        op_p50 = statistics.median(warm) if warm else 0.0
        return {
            "setup_s": self.setup_s,
            "cold_op_s": cold[0] if cold else 0.0,
            "op_s_p50": op_p50,
            "files_per_s": self.per_op_files / op_p50 if op_p50 else 0.0,
            "peak_rss_mb": peak_rss_mb,
            "pairwise_f1": min((o["f1"] for o in self.ops if "f1" in o), default=0.0),
        }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="self-check sizes")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        er = workloads.engine()
    except ImportError as exc:
        print(f"perfbench: cannot import the engine package from {ROOT}: {exc}", file=sys.stderr)
        return 2

    cores = pin_environment()
    ticks0 = host.cpu_ticks()
    cal_before = host.cpu_calibration(str(ROOT))
    with host.PeakRss() as rss:
        t0 = time.perf_counter()
        spark = start_session(er, cores)
        bench = Bench(er, spark, args, cores, time.perf_counter() - t0)
        try:
            bench.setup()
            bench.run_ops()
            values = bench.per_layer() if bench.trace else None
        finally:
            try:
                stop_session(spark)
            except Exception:  # noqa: BLE001 — the JVM may already be gone
                traceback.print_exc(file=sys.stderr)
                host.reap_children(timeout=10)
    cal_after = host.cpu_calibration(str(ROOT))
    steal = host.steal_pct(ticks0, host.cpu_ticks())

    if args.trace:
        OUT.mkdir(exist_ok=True)
        bench.tracer.write(str(OUT / f"trace-{args.workload}-seed{args.seed}.jsonl"))
        units = spec.PER_LAYER
        values = values or {k: 0.0 for k in units}
    else:
        units = spec.END_TO_END
        values = bench.end_to_end(rss.peak)
    failed = sum(1 for o in bench.ops if o["errors"])
    inp = bench.inp
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "toy": args.toy,
        "cores": cores, "driver_memory": DRIVER_MEM, "inputs_digest": inp.digest,
        "input_files": inp.n_files, "files_per_op": bench.per_op_files,
        "host": {"steal_pct": steal, "cpu_cal_before": cal_before, "cpu_cal_after": cal_after},
        "setup": {"session_start_s": bench.start_s, "generate_s": bench.gen_times},
        "kernel_lane_s": bench.lane_s, "op_fail_ratio": failed / max(len(bench.ops), 1),
        "ops": bench.ops,
    }))
    result = {
        "correct": failed == 0 and bool(bench.ops),
        "attempted": len(bench.ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
