"""CPU time and resident memory of a process tree, read from /proc.

The tree is the benchmark process, the Spark JVM it launches and the
JVM's Python workers. CPU includes reaped children (cutime/cstime), so
short-lived workers that exited inside a window still count.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # fields after "(comm)": state ppid ... ; comm may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> dict[int, list[str]]:
    """pid -> stat fields for root and all its descendants."""
    stats = {}
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


def cpu_seconds(root: int) -> float:
    """utime + stime + cutime + cstime summed over the tree."""
    # stat fields (0-based after comm): 11 utime 12 stime 13 cutime 14 cstime
    return sum(
        sum(int(v) for v in st[11:15]) for st in tree(root).values()
    ) / _TICK


def rss_bytes(root: int) -> int:
    # field 21 (0-based after comm) is rss in pages
    return sum(int(st[21]) for st in tree(root).values()) * _PAGE


class PeakRss:
    """Samples the tree's summed RSS on a thread; ``peak`` is the max."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_bytes(self.root))
