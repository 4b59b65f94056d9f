"""Memory and CPU time of a process and all its descendants, from /proc.

The tree is the Python driver, the JVM it launched and the Python workers
the JVM forked. Workers that exited are in their parent's ``cutime`` and
``cstime`` once reaped.
"""

from __future__ import annotations

import os


def _stat_fields(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (field 3 onward)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree(root: int) -> list[int]:
    """``root`` and the pids of all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_bytes(root: int) -> int:
    """Resident set size of the tree."""
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


def cpu_s(root: int) -> float:
    """User plus system CPU seconds the tree has used, reaped children
    included. Time the hypervisor stole from the guest is not counted."""
    ticks = 0
    for pid in tree(root):
        try:
            # utime, stime, cutime, cstime
            ticks += sum(int(v) for v in _stat_fields(pid)[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")
