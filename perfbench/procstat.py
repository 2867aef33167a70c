"""CPU time and peak memory of a process tree, read from /proc."""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name may hold spaces and parentheses: split after it
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of the tree, plus the reaped children's time each
    process has collected (cutime+cstime), so a worker that exits between
    two readings still counts once, through its parent."""
    ticks = 0
    for pid in descendants(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK


def hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def child_named(root: int, name: str) -> int | None:
    """First descendant of ``root`` whose command name is ``name``."""
    for pid in descendants(root)[1:]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == name:
                    return pid
        except OSError:
            continue
    return None
