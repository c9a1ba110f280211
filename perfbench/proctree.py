"""The process tree below a process, read from /proc.

PySpark's daemon moves itself and its Python workers into a process
group of their own, so neither the worker's process group nor its
session covers everything a run starts; the parent links do.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def snapshot() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks: utime+stime+cutime+cstime)."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited meanwhile
        fields = stat[stat.rindex(")") + 2:].split()
        procs[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return procs


def descendants(root: int, procs: dict[int, tuple[int, int]] | None = None) -> list[int]:
    """Every process below ``root``, zombies included: the leader of a
    process whose other threads still run shows as a zombie."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in (snapshot() if procs is None else procs).items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every descendant, including
    every child any of them reaped. The kernel does not charge time stolen
    by the hypervisor to a process."""
    procs = snapshot()
    return sum(procs[p][1] for p in [root] + descendants(root, procs) if p in procs) / CLK_TCK
