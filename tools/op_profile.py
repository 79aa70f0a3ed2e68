"""Per-op profile of warm ``run_pipeline`` batch ops in one Spark session.

Runs one cold op and then ``--ops`` warm ops of the ``er_hotblock`` shape
(one 120-row block beside 11 blocks of 20, ``max_rows_per_task=100``,
TF-IDF on, no banding) on the ``synthesize(seed)`` input written as
parquet. An op is ``run_pipeline`` + ``labels.count()``, as in
perfbench's batch op. For each op it prints:

  wall_s      the op's wall time
  jobs        Spark jobs, per stage label (``er_pipeline: <label>``; the
              labels snapshot and count run unlabelled: ``-``)
  sql / kb    SQL executions and the KB of their final physical-plan text
              (``statusStore().executionsList()``), and how many of them
              read an ``InMemoryRelation``
  driver_s    wall time with no job of the op running (driver planning,
              py4j, Python): the wall minus the union of job intervals
  jit_cpu_s   utime + stime gained by the JVM's JIT compiler threads
              (``/proc/<jvm pid>/task/*`` whose ``comm`` starts with
              ``C1 CompilerThre`` or ``C2 CompilerThre``), sampled every
              0.1 s because HotSpot stops idle compiler threads
  py4j        py4j round trips the driver made

Only the session's own JVM is read. Linux only (``/proc``).

    python tools/op_profile.py --ops 6 --seed 2301
"""

from __future__ import annotations

import argparse
import glob
import itertools
import os
import sys
import tempfile
import threading
import time
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

GEN = dict(n_blocks=12, min_rows=20, max_rows=20, hot_block_rows=120, clusters_per_block=(2, 20))
RUN = dict(threshold=0.40, use_bands=False, use_tfidf=True, max_rows_per_task=100)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class JitClock:
    """CPU seconds used by the JVM's JIT compiler threads since start.

    HotSpot starts and stops compiler threads as the compile queue grows
    and drains, and an exited thread's time leaves ``/proc``, so a
    background thread samples every ``period`` s and adds each live
    thread's increase; only time a thread used after its last sample is
    lost."""

    def __init__(self, pid: int, period: float = 0.1):
        self._pid, self._last, self._ticks = pid, {}, 0
        self._lock = threading.Lock()
        self.read()
        threading.Thread(target=self._run, args=(period,), daemon=True).start()

    def _run(self, period: float) -> None:
        while True:
            time.sleep(period)
            self.read()

    def read(self) -> float:
        now = {}
        for task in glob.glob(f"/proc/{self._pid}/task/*"):
            try:
                with open(f"{task}/comm") as f:
                    if not f.read().startswith(JIT_THREADS):
                        continue
                with open(f"{task}/stat") as f:
                    # fields after the parenthesised comm; utime, stime are 14, 15
                    rest = f.read().rsplit(")", 1)[1].split()
                now[task] = int(rest[11]) + int(rest[12])
            except (OSError, IndexError, ValueError):  # the thread exited
                continue
        with self._lock:
            self._ticks += sum(t - self._last.get(k, 0) for k, t in now.items())
            self._last = now
            return self._ticks / os.sysconf("SC_CLK_TCK")


class Py4jCounter:
    """Counts py4j commands sent by this process."""

    def __init__(self):
        from py4j import clientserver

        self.n = 0
        cls = clientserver.ClientServerConnection
        real = cls.send_command

        def send_command(conn, command):
            self.n += 1
            return real(conn, command)

        cls.send_command = send_command


def union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--ops", type=int, default=5, help="warm ops after the cold one")
    ap.add_argument("--seed", type=int, default=2301)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--heap", default="2g", help="driver heap (perfbench's is 2g)")
    args = ap.parse_args()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(args.cores))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", args.heap)

    import pyarrow as pa
    import pyarrow.parquet as pq

    from jmdfane_spark import persist
    from jmdfane_spark.plans.pipeline import run_pipeline
    from jmdfane_spark.session import get_spark
    from jmdfane_spark.sources.synthetic import Fixture, synthesize

    spark = get_spark(
        master=f"local[{args.cores}]", app_name="op_profile",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    app_store = jsc.statusStore()
    sql_store = spark._jsparkSession.sharedState().statusStore()
    jit = JitClock(sc._gateway.proc.pid)
    trips = Py4jCounter()

    fx = synthesize(seed=args.seed, emit_pairs=False, **GEN)
    work = tempfile.TemporaryDirectory(prefix="op_profile_")
    path = os.path.join(work.name, "files.parquet")
    cols = [f.split()[0] for f in Fixture.FILES_SCHEMA.split(", ")]
    table = pa.table({c: pa.array(v, pa.string()) for c, v in zip(cols, zip(*fx.files))})
    pq.write_table(table, path)
    files = spark.read.parquet(path)

    def opt(o):
        return o.get() if o.isDefined() else None

    def executions():
        return list(conv.asJava(sql_store.executionsList()))

    groups = (f"op_profile-{k}" for k in itertools.count())
    print(f"# seed {args.seed}, local[{args.cores}], {len(fx.files)} files, run_pipeline{RUN}")
    print("op    wall_s  jobs  sql  kb     imr  driver_s  jit_cpu_s  py4j  jobs_by_label")
    for op in range(args.ops + 1):
        group = next(groups)
        last_exec = max((e.executionId() for e in executions()), default=-1)
        jit0, n0 = jit.read(), trips.n
        sc.setJobGroup(group, "op_profile op")
        t0 = time.time()
        res = run_pipeline(spark, files, **RUN)
        res.labels.count()
        t1 = time.time()
        sc._jsc.clearJobGroup()
        n_trips, jit_s = trips.n - n0, jit.read() - jit0
        res.release()
        persist.release()
        jsc.listenerBus().waitUntilEmpty()

        by_label: Counter = Counter()
        spans = []
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            j = app_store.job(jid)
            desc = opt(j.description()) or ""
            by_label[desc.removeprefix("er_pipeline: ") or "-"] += 1
            sub, end = opt(j.submissionTime()), opt(j.completionTime())
            if sub is not None:
                a = max(sub.getTime() / 1e3, t0)
                b = min(end.getTime() / 1e3 if end is not None else t1, t1)
                spans.append((a, max(a, b)))
        execs = [e for e in executions() if e.executionId() > last_exec]
        texts = [e.physicalPlanDescription() for e in execs]
        kb = sum(len(t) for t in texts) / 1024
        imr = sum("InMemoryRelation" in t for t in texts)
        wall = t1 - t0
        print(
            f"{'cold' if op == 0 else op:<5} {wall:6.2f}  {sum(by_label.values()):4d}  "
            f"{len(execs):3d}  {kb:6.1f} {imr:3d}  {wall - union_s(spans):8.2f}  "
            f"{jit_s:9.2f}  {n_trips:4d}  "
            + " ".join(f"{k}={v}" for k, v in sorted(by_label.items())),
            flush=True,
        )
    spark.stop()
    work.cleanup()


if __name__ == "__main__":
    main()
