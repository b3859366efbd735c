"""CPU time and resident memory of a process tree, read from /proc.

A Spark run is a tree: the Python driver, the JVM it launches, the
pyspark daemon and its Python workers. The workers are forked from the
daemon and share most of their pages with it, so Python processes count
their PSS (each shared page split between its sharers), not their RSS,
which would count those pages once per worker. The JVM counts its RSS:
reading its PSS walks gigabytes of page tables, which would cost the
measured run a good share of a core. Short-lived helpers the JVM spawns
(shell commands run by Hadoop's file system code) are not counted: while
being spawned they share the JVM's whole address space, and counting
their RSS would add the JVM a second time.

CPU time counts each member's own time plus that of its children it has
reaped, so a worker or helper that ends between two samples keeps its CPU
in the tree, folded into its parent.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, str, float, int] | None:
    """(ppid, command, cpu seconds, rss bytes) of one process, or None if
    it is gone. CPU seconds include the reaped children's (cutime, cstime)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    fields = raw[raw.rindex(")") + 2 :].split()
    return (
        int(fields[1]),
        raw[raw.index("(") + 1 : raw.rindex(")")],
        sum(int(x) for x in fields[11:15]) / _TICK,
        int(fields[21]) * _PAGE,
    )


def _pss(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def _members(root: int) -> dict[int, tuple[int, str, float, int]]:
    """pid -> (ppid, command, cpu seconds, rss bytes) of ``root`` and every
    descendant."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return out


def tree_cpu(root: int) -> float:
    """CPU seconds used so far by the live processes of the tree and by the
    children they have reaped."""
    return sum(cpu for _, _, cpu, _ in _members(root).values())


def tree_memory(root: int) -> int:
    """Resident bytes of the tree: PSS of the Python processes plus RSS of
    the root and of each JVM not spawned by a JVM."""
    members = _members(root)
    total = 0
    for pid, (ppid, comm, _, rss) in members.items():
        if comm.startswith("python"):
            total += _pss(pid) or 0
        elif pid == root or (comm == "java" and members.get(ppid, (0, ""))[1] != "java"):
            total += rss
    return total


class MemorySampler:
    """Polls a process tree's resident memory on a thread until stopped;
    ``peak(until)`` is the largest total seen at a poll up to ``until``."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root = root
        self.interval = interval
        self._series: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while True:
            self._series.append((time.time(), tree_memory(self.root)))
            if self._stop.wait(self.interval):
                return

    def peak(self, until: float = float("inf")) -> int:
        return max((mem for t, mem in self._series if t <= until), default=0)
