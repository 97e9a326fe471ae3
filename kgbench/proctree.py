"""Process-tree CPU and memory from /proc (Linux only).

The tree is this process and all of its descendants: the benchmark itself,
the Spark JVM it launches, the pyspark daemon the JVM forks and the Python
workers the daemon forks. One sampler thread reads the tree at a fixed
interval and keeps the peak summed RSS while armed; CPU time is read on
demand at op boundaries so it does not depend on the interval.

CPU of a process that has exited is not lost: when its parent reaps it the
kernel adds its utime/stime (and its own reaped children's) to the parent's
cutime/cstime, and the parent is still in the tree.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm (field 2) may hold spaces; fields after it start past the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children", "rb") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def tree_walk(root: int) -> list[tuple[int, int | None]]:
    """(pid, parent pid) for the root and every descendant."""
    out, todo = [], [(root, None)]
    while todo:
        pid, parent = todo.pop()
        out.append((pid, parent))
        todo.extend((c, pid) for c in _children(pid))
    return out


def tree_pids(root: int) -> list[int]:
    return [pid for pid, _ in tree_walk(root)]


def tree_cpu_s(root: int) -> float:
    """utime+stime+cutime+cstime summed over the live tree, in seconds."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat(pid)
        if f:  # fields 14-17 of stat: utime stime cutime cstime
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK


def tree_rss_mb(root: int) -> dict[str, float]:
    """Resident MB of the live tree, summed per command name.

    A child of the JVM still running the JVM's binary is a fork that has not
    reached exec yet (Hadoop runs `chmod` this way). It maps the JVM's pages,
    so counting it would add the JVM's RSS a second time."""
    out: dict[str, float] = {}
    exe: dict[int, str] = {}
    for pid, parent in tree_walk(root):
        try:
            exe[pid] = os.readlink(f"/proc/{pid}/exe")
            if parent in exe and exe[pid] == exe[parent] and exe[pid].endswith("/java"):
                continue
            with open(f"/proc/{pid}/statm", "rb") as f:
                pages = int(f.read().split()[1])
            with open(f"/proc/{pid}/comm", encoding="ascii", errors="replace") as f:
                comm = f.read().strip()
        except (OSError, IndexError, ValueError):
            continue
        out[comm] = out.get(comm, 0.0) + pages * _PAGE / 2**20
    return out


def host_steal_s() -> float:
    """CPU seconds the hypervisor took from this VM, summed over its CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK  # cpu user nice system idle iowait irq softirq steal


class TreeSampler:
    """Background thread sampling the tree's RSS every `interval` seconds.

    `peak_rss_mb` is the largest sample taken while armed, and
    `peak_by_comm` that sample split by command name."""

    def __init__(self, root: int | None = None, interval: float = 0.1):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.peak_rss_mb = 0.0
        self.peak_by_comm: dict[str, float] = {}
        self._armed = False
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def arm(self, on: bool) -> None:
        if on:  # one sample at the arm edge so a short op is never missed
            self._sample()
        self._armed = on

    def _sample(self) -> None:
        by_comm = tree_rss_mb(self.root)
        rss = sum(by_comm.values())
        with self._lock:
            if rss > self.peak_rss_mb:
                self.peak_rss_mb, self.peak_by_comm = rss, by_comm

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self._armed:
                self._sample()

    def cpu_s(self) -> float:
        return tree_cpu_s(self.root)
