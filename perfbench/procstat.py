"""Process-tree CPU and memory, and host load, read from /proc.

The benchmark's process tree is the Python driver, the JVM it launches
and the Python workers the JVM forks. A worker that exits is reaped by
its parent, which adds its CPU time to the parent's ``cutime``/``cstime``,
so summing user + system + reaped-children time over the live tree is
monotonic and counts every process once.
"""

from __future__ import annotations

import os

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended while we listed /proc
        return None
    # Fields after the parenthesised command name, which may hold spaces.
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _read_stat(entry)
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def tree_usage(root: int | None = None) -> tuple[float, float]:
    """(CPU seconds, RSS MiB) summed over the process tree."""
    cpu_ticks = rss_pages = 0
    for pid in tree_pids(root):
        fields = _read_stat(str(pid))
        if fields is None:
            continue
        # utime, stime, cutime, cstime are fields 14-17; rss is field 24.
        cpu_ticks += sum(int(x) for x in fields[11:15])
        rss_pages += int(fields[21])
    return cpu_ticks / _HZ, rss_pages * _PAGE / 2 ** 20


def host_cpu() -> tuple[float, float, float]:
    """(busy, stolen, total) seconds over all host CPUs since boot.
    Busy includes stolen: time a hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    idle = ticks[3] + ticks[4]  # idle + iowait
    total = sum(ticks[:8])  # guest time is already inside user/nice
    return (total - idle) / _HZ, ticks[7] / _HZ, total / _HZ


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])
