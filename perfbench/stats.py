"""Summaries of timings, the process-tree memory sampler and the per-run
noise record."""

from __future__ import annotations

import bisect
import os
import statistics
import threading
import time

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail percentile


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(samples) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least
    TAIL_BEYOND samples strictly beyond it. When that percentile would be
    below the median (too few samples) the median stands in (percentile
    50)."""
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return 50.0, median(xs)
    # the largest sample below the TAIL_BEYOND-th largest: every sample at
    # or above that one lies beyond it
    i = bisect.bisect_left(xs, xs[n - TAIL_BEYOND]) - 1
    pct = 100.0 * i / (n - 1)
    if pct < 50.0:
        return 50.0, median(xs)
    return pct, float(xs[i])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this process)."""
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeRss:
    """Samples the summed RSS of process ``pid`` and all its descendants
    (a worker: its driver, JVM and Python workers) from ``start`` to
    ``stop``, and keeps the peak."""

    def __init__(self, pid: int, every_s: float = 0.2):
        self.pid = pid
        self.every_s = every_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pids = [self.pid, *descendants(self.pid)]
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))

    def _run(self) -> None:
        while not self._stop.wait(self.every_s):
            self._sample()

    def start(self) -> "TreeRss":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def tree_cpu_s(pid: int | None = None, include_self: bool = False) -> float:
    """User + system CPU seconds of the live processes below ``pid`` (and
    of ``pid`` itself with ``include_self``)."""
    root = pid or os.getpid()
    pids = descendants(root) + ([root] if include_self else [])
    ticks = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


class Noise:
    """Host noise over one run: hypervisor steal and iowait shares from
    /proc/stat deltas, nproc and the load average at the start."""

    def __init__(self):
        self.nproc = len(os.sched_getaffinity(0))
        with open("/proc/loadavg") as f:
            self.loadavg_start = [float(v) for v in f.read().split()[:3]]
        self._t0 = _cpu_times()

    def record(self) -> dict:
        d = [b - a for a, b in zip(self._t0, _cpu_times())]
        total = sum(d[:8]) or 1
        return {
            "nproc": self.nproc,
            "loadavg_start": self.loadavg_start,
            "steal_share": d[7] / total,
            "iowait_share": d[4] / total,
        }


def become_subreaper() -> None:
    """Make orphaned descendants (a worker's JVM outliving its Python
    parent) re-parent to this process, so ``reap`` can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _collect_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap(timeout_s: float = 20.0) -> list[int]:
    """Wait for every descendant process to end; kill what is still alive
    after ``timeout_s``. Returns the pids that had to be killed."""
    import signal

    deadline = time.time() + timeout_s
    killed: list[int] = []
    while True:
        _collect_zombies()
        alive = descendants()
        if not alive:
            return killed
        if time.time() > deadline + 5:
            return killed
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                    killed.append(p)
                except OSError:
                    pass
        time.sleep(0.1)
