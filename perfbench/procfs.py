"""Process-tree CPU and memory from /proc (no psutil).

The tree is this process and every descendant: the JVM that PySpark
launches and the Python workers its daemon forks. CPU of a descendant
that has exited and been reaped is folded by the kernel into its
parent's cutime/cstime, so summing utime+stime+cutime+cstime over the
live tree counts every tick exactly once.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None  # exited between listing and reading
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """`root` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user+system, reaped children included) of the tree."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11..14] = utime, stime, cutime, cstime (stat 14..17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * _PAGE / 2**20


def host_steal_s() -> float:
    """Cumulative host steal time of all CPUs, from /proc/stat."""
    with open("/proc/stat", "rb") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def load_avg_1m() -> float:
    with open("/proc/loadavg", "rb") as f:
        return float(f.read().split()[0])


class RssSampler:
    """Background thread that tracks the tree's peak RSS while running.

    Use as a context manager around the timed passes; `peak_mb` holds the
    highest sum seen, sampled every `interval_s` (and once at entry and
    exit, so a short window still has a reading)."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


class PassClock:
    """Wall, tree CPU and host steal over one pass."""

    def __enter__(self) -> "PassClock":
        self._steal0 = host_steal_s()
        self._cpu0 = tree_cpu_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = tree_cpu_s() - self._cpu0
        self.steal_s = host_steal_s() - self._steal0
        self.load_1m = load_avg_1m()
