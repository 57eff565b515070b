"""Host facts, noise probes, process-tree memory and clean shutdown.

The probes only label a run as noisy; they never exclude a run or move
a bound. psutil is not available, so memory and the process tree come
from /proc.
"""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time
from typing import Dict, List

PROBE_ITERS = 250_000
PROBE_MATRIX = 1024


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def probe_single() -> float:
    """Seconds for a fixed pure-Python loop (~15 ms on a quiet core)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(PROBE_ITERS):
        acc += i * i
    return time.perf_counter() - t0


class ParallelProbe:
    """Seconds for one threaded BLAS matmul that uses every core."""

    def __init__(self) -> None:
        import numpy as np

        self.a = np.random.default_rng(7).random((PROBE_MATRIX, PROBE_MATRIX))
        self.a @ self.a  # start the BLAS threads outside the timing

    def __call__(self) -> float:
        t0 = time.perf_counter()
        self.a @ self.a
        return time.perf_counter() - t0


def probes(par: ParallelProbe) -> Dict[str, float]:
    return {"single_s": probe_single(), "parallel_s": par()}


def noisy(samples: List[Dict[str, float]], ratio: float = 1.5) -> bool:
    """True when either probe's slowest sample is `ratio` x its fastest."""
    return any(
        max(s[k] for s in samples) > ratio * min(s[k] for s in samples)
        for k in ("single_s", "parallel_s")
    )


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> List[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def engine_processes() -> List[int]:
    """This driver, its JVM and the PySpark daemon with its workers.

    Other children of the JVM are skipped: the JVM forks them briefly to
    run shell commands, and until they exec they share the JVM's pages,
    so their RSS would count the JVM twice.
    """
    me = os.getpid()
    kids = _children()
    out = [me]
    for jvm in kids.get(me, []):
        out.append(jvm)
        for c in kids.get(jvm, []):
            if b"pyspark.daemon" in _cmdline(c):
                out.append(c)
                todo = [c]
                while todo:
                    for g in kids.get(todo.pop(), []):
                        out.append(g)
                        todo.append(g)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class PeakRss:
    """Samples the summed RSS of `engine_processes()`."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.peak_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        procs = engine_processes()
        total = sum(_rss_bytes(p) for p in procs)
        if total > self.peak:
            self.peak, self.peak_procs = total, len(procs)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "PeakRss":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def _version(cmd: List[str]) -> str:
    try:
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = (p.stderr or p.stdout).strip().splitlines()
    return lines[0] if lines else "unknown"


def environment() -> Dict[str, str]:
    import pyspark

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return {
        "nproc": str(ncpu()),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "jdk": _version([java, "-version"]),
        "machine": platform.machine(),
    }


def wait_gone(pids: List[int], timeout_s: float) -> List[int]:
    """Wait for `pids` to exit; return those still alive at the timeout."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if alive:
            time.sleep(0.05)
    return alive


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False
