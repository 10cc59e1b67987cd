"""Resident memory and CPU time of this process and everything it
started (driver Python, the JVM, Python workers), read from /proc."""

from __future__ import annotations

import os

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def tree_pids(root: int | None = None) -> set[int]:
    root = root or os.getpid()
    parent: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as fh:
                    parent[int(p)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {root}, [root]
    while frontier:
        pid = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == pid and c not in tree]
        tree.update(kids)
        frontier += kids
    return tree


def tree_rss_bytes(pids: set[int]) -> int:
    rss = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return rss


def tree_cpu_s(pids: set[int]) -> float:
    """User plus system CPU seconds of ``pids`` and of the children they
    have reaped.  Time the hypervisor gives to other guests of the host
    (steal) is not counted."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / _TICK
