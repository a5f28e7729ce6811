"""CPU time and resident memory of this process and its descendants,
read from ``/proc`` (the JVM is a child of the Python process, and
PySpark's Python workers are children of the JVM).

CPU time is what the benchmark's run metrics are measured in: on a
virtual machine whose host steals CPU from it, the wall time of a run
moves by a fifth from one minute to the next while its CPU time moves
by a few percent.
"""

from __future__ import annotations

import os

TICKS = os.sysconf("SC_CLK_TCK")


def tree(pid: int | None = None) -> list[int]:
    """``pid`` (default: this process) and all its live descendants."""
    pids, todo = [], [os.getpid() if pid is None else pid]
    while todo:
        p = todo.pop()
        pids.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return pids


def cpu_seconds() -> float:
    """User plus system CPU time of the process tree, including that of
    descendants which have exited and been waited for."""
    ticks = 0
    for p in tree():
        try:
            with open(f"/proc/{p}/stat") as f:
                # fields after the parenthesised command name; utime,
                # stime, cutime, cstime are fields 14..17 of the line
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / TICKS


def reset_peak_rss() -> None:
    for p in tree():
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")  # resets VmHWM to the current RSS
        except OSError:
            pass


def peak_rss_mb() -> float:
    """Sum of VmHWM over the process tree."""
    kb = 0
    for p in tree():
        try:
            with open(f"/proc/{p}/status") as f:
                kb += next(int(line.split()[1]) for line in f
                           if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return kb / 1024.0
