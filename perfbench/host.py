"""Host stamps and process-tree memory: CPU steal from /proc/stat, a short
pure-CPU calibration borrowed from tools/cpu_calibration.py, and the peak
resident memory of every process this benchmark started (the Spark driver
JVM and its Python workers)."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total else 0.0


def cpu_calibration(root: str, seconds: float = 0.3) -> float | None:
    """ops/s of tools/cpu_calibration.py's worker on one core, shortened
    from its 15 s loop to ``seconds``; None if the tool is not there."""
    sys.path.insert(0, root)
    try:
        from tools import cpu_calibration as cal
    except ImportError:
        return None
    finally:
        sys.path.remove(root)
    loop = "time.time() - t0 < 15.0"
    if loop not in cal.WORKER:
        return None
    src = cal.WORKER.replace(loop, f"time.time() - t0 < {seconds}")
    out = subprocess.run([sys.executable, "-c", src], capture_output=True, text=True, timeout=60)
    return float(out.stdout.strip().splitlines()[-1]) if out.returncode == 0 else None


def _procs() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, command name) of every process."""
    procs: dict[int, tuple[int, str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm, rest = stat[stat.index("(") + 1:].rsplit(")", 1)
        procs[int(name)] = (int(rest.split()[1]), comm)
    return procs


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root_pid: int, procs: dict[int, tuple[int, str]] | None = None) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in (procs or _procs()).items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], list(kids.get(root_pid, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def reap_children(timeout: float) -> None:
    """Wait for every descendant of this process to exit; kill stragglers."""
    deadline = time.time() + timeout
    while (pids := descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.2)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def tree_rss_mb(root_pid: int) -> float:
    """Resident MB of every descendant of root_pid (root itself excluded).

    A child of the JVM that has not yet exec'd (the JVM spawning a shell
    command, as Hadoop's local file system does) reports the JVM's whole
    resident set as its own; it is left out, or a sample that catches one
    would count the JVM twice."""
    procs = _procs()
    kb = 0
    for pid in descendants(root_pid, procs):
        ppid, comm = procs[pid]
        if comm == "java" and procs.get(ppid, (0, ""))[1] == "java":
            continue
        kb += _rss_kb(pid)
    return kb / 1024.0


class PeakRss:
    """Samples tree_rss_mb(this process) on a thread until stopped."""

    def __init__(self, interval: float = 0.2):
        self.peak = 0.0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
