"""CPU time and resident memory of a whole process tree, from /proc.

The tree is the benchmark's Python process, the JVM it launches, and
the JVM's PySpark daemon and Python workers. A process's CPU time is
its own ``utime + stime`` plus ``cutime + cstime`` of the children it
has reaped, so summing both over the live tree counts exited workers
too (their time moves to the daemon that reaped them).
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree(root: int | None = None) -> dict[int, list[str]]:
    """``pid -> stat fields`` for ``root`` and all its descendants."""
    root = os.getpid() if root is None else root
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def _cpu(st: list[str]) -> float:
    # utime stime cutime cstime are fields 14-17 of stat; index 11-14 here
    return sum(int(x) for x in st[11:15]) / _TICK


def tree_cpu_s(root: int | None = None) -> float:
    return sum(_cpu(st) for st in tree(root).values())


def python_workers(root: int | None = None) -> dict[int, float]:
    """``pid -> CPU seconds`` of the PySpark daemon and its workers."""
    return {
        pid: _cpu(st)
        for pid, st in tree(root).items()
        if "pyspark.daemon" in _cmdline(pid) or "pyspark.worker" in _cmdline(pid)
    }


def tree_rss_mb(root: int | None = None) -> float:
    # rss (pages) is field 24 of stat; index 21 here
    return sum(int(st[21]) for st in tree(root).values()) * _PAGE / 2**20


def cpu_steal(since: list[int] | None = None):
    """Machine-wide CPU counters from /proc/stat; given an earlier
    reading, the share of CPU time the hypervisor stole since then."""
    with open("/proc/stat") as f:
        now = [int(x) for x in f.readline().split()[1:]]
    if since is None:
        return now
    delta = [b - a for a, b in zip(since, now)]
    return delta[7] / max(1, sum(delta))


class PeakSampler:
    """Background thread sampling the tree's total RSS; ``peak_mb`` is
    the highest sum seen between ``start`` and ``stop``. With
    ``watch_workers`` it also records every Python worker pid seen."""

    def __init__(self, interval_s: float = 0.05, watch_workers: bool = False) -> None:
        self.interval_s, self.watch_workers = interval_s, watch_workers
        self.peak_mb = 0.0
        self.worker_pids: set[int] = set()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        if self.watch_workers:
            self.worker_pids.update(python_workers())

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        if self._thread is None or self._stop.is_set():
            return
        self._stop.set()
        self._thread.join()
        self._sample()
