"""Host weather and process-tree resource use, read from /proc.

The box this benchmark runs on is a shared virtual machine whose
hypervisor steal varies run to run. Every run therefore records busy and
steal jiffies, the load average and the core count beside its numbers, so
a slow run can be told apart from a slow program.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies from the aggregate /proc/stat line. Only the
    first 8 fields count: guest time is already folded into user/nice."""
    with open("/proc/stat", encoding="ascii") as fh:
        vals = [int(v) for v in fh.readline().split()[1:9]]
    return sum(vals) - vals[3] - vals[4], vals[7]


def loadavg() -> list[float]:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return [float(v) for v in fh.read().split()[:3]]


def _tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_usage(root: int) -> tuple[float, float]:
    """(CPU seconds, resident MB) summed over the process tree. CPU counts
    each process's own and its reaped children's user+system time."""
    cpu, rss = 0.0, 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after the command: state=0 ... utime=11 stime=12
        # cutime=13 cstime=14 ... rss=21 (pages)
        cpu += sum(int(v) for v in f[11:15]) / _TICK
        rss += int(f[21]) * _PAGE
    return cpu, rss / 2**20


class Sampler:
    """Samples the process tree and /proc/stat on a background thread.
    ``window(t0, t1)`` then gives CPU seconds, peak resident memory and
    jiffy deltas between two instants inside the sampled period."""

    def __init__(self, period: float = 0.5) -> None:
        self.period = period
        self.samples: list[tuple[float, float, float, int, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _take(self) -> None:
        cpu, rss = tree_usage(os.getpid())
        busy, steal = cpu_jiffies()
        self.samples.append((time.time(), cpu, rss, busy, steal))

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._take()

    def __enter__(self) -> "Sampler":
        self._take()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._take()

    def window(self, t0: float, t1: float) -> dict:
        def at(t: float):
            return min(self.samples, key=lambda s: abs(s[0] - t))

        a, b = at(t0), at(t1)
        inside = [s[2] for s in self.samples if t0 <= s[0] <= t1] or [b[2]]
        return {
            "cpu_s": b[1] - a[1],
            "peak_rss_mb": max(inside),
            "busy_jiffies": b[3] - a[3],
            "steal_jiffies": b[4] - a[4],
        }
