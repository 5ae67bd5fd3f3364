"""CPU time of the benchmark's process tree.

The engine's work runs in three kinds of process: this Python driver,
the Spark JVM it starts, and the Python workers the JVM forks. The
CPU seconds they spend on an operation are read from ``/proc`` before
and after it: user + system time of every live process in the tree,
plus the time of children they have already reaped (a Python worker
that exits mid-operation is counted through its parent).

Unlike wall time, CPU time barely moves when other tenants of a shared
host compete for its cores: in a probe on a 4-core host, two busy
processes beside the benchmark raised median read wall time by 35% and
median read CPU time by 4%.
"""

from __future__ import annotations

import os

TICKS_PER_S = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds spent so far by ``root`` (default: this process) and
    all its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        # fields after "(comm)": state, ppid, …; utime, stime, cutime
        # and cstime are fields 14–17 of the whole line
        rest = stat[stat.rfind(")") + 2:].split()
        pid = int(name)
        children.setdefault(int(rest[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in rest[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / TICKS_PER_S
