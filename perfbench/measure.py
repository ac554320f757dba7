"""Sample statistics and the process-tree memory sampler."""

from __future__ import annotations

import os
import statistics
import threading

#: a tail percentile needs at least this many samples beyond it
TAIL_BEYOND = 10


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """``(value, percentile, n)`` at the highest percentile that has at
    least TAIL_BEYOND samples above it: the (TAIL_BEYOND+1)-th largest
    sample, at percentile ``100 * (n - TAIL_BEYOND) / n``. With too few
    samples for any such percentile, the maximum at percentile 100."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0, n
    return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def _tree_stats(root: int) -> dict[int, list[str]]:
    """The ``/proc/<pid>/stat`` fields after the command name of ``root``
    and each of its descendants, by pid."""
    stats, children = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        stats[int(d)] = fields
        children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        if pid in stats:
            out[pid] = stats[pid]
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user and system) that ``root`` and its descendants
    have used, counting exited children their parents have reaped, so
    the sum only grows while the tree runs. Time the host's hypervisor
    steals from the VM is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    # utime, stime, cutime, cstime are stat fields 14-17
    return sum(sum(int(x) for x in f[11:15]) for f in _tree_stats(root).values()) / tick


def tree_rss(root: int) -> dict[int, int]:
    """Resident bytes of ``root`` and each of its descendants, by pid."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for pid in _tree_stats(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = int(f.read().split()[1]) * page
        except OSError:
            pass
    return out


class RssSampler:
    """One thread sampling the process tree's RSS from /proc; ``peak_mb``
    is the largest sum seen since ``start`` or the last ``restart``.

    A process counts from its second sample on: a child the JVM forks to
    exec a command shares the JVM's pages until the exec, and counting
    it would add the whole JVM a second time."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        pid, seen = os.getpid(), set()
        while True:
            sample = tree_rss(pid)
            rss = sum(v for p, v in sample.items() if p in seen)
            seen = set(sample)
            with self._lock:
                self.peak_bytes = max(self.peak_bytes, rss)
            if self._stop.wait(self.interval_s):
                return

    def restart(self) -> float:
        """Start a new peak; returns the previous one in MB."""
        with self._lock:
            prev, self.peak_bytes = self.peak_bytes, 0
        return prev / 2**20

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
