"""Process-tree CPU and memory from /proc (no psutil).

The tree is a root pid and every live descendant: for a benchmark worker
that is the Python driver, the JVM that PySpark launches, and the Python
workers the JVM forks. CPU of a descendant that has exited is still
counted, through its parent's cutime/cstime, once the parent reaps it.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats() -> dict[int, list[str]]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # comm may hold spaces and parens: fields start after the last ')'
        out[int(name)] = raw[raw.rfind(")") + 2 :].split()
    return out


def _tree(stats: dict[int, list[str]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        if pid in stats:
            seen.append(pid)
            todo.extend(children.get(pid, ()))
    return seen


def tree_cpu_s(root: int | None = None) -> float:
    """utime+stime (+ reaped children) summed over the tree, in seconds."""
    stats = _stats()
    pids = _tree(stats, root or os.getpid())
    ticks = sum(sum(int(x) for x in stats[p][11:15]) for p in pids)
    return ticks / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    stats = _stats()
    pids = _tree(stats, root or os.getpid())
    return sum(int(stats[p][21]) for p in pids) * _PAGE / 2**20


class PeakRss:
    """Samples the tree's summed RSS on a daemon thread; ``peak_mb``."""

    def __init__(self, interval_s: float = 0.25):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval_s,), daemon=True)

    def _run(self, interval_s: float) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
