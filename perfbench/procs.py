"""Process-tree helpers over /proc (Linux): the benchmark process, the
Spark JVM it launches, and the JVM's Python workers."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def children(pid: int) -> list[int]:
    """All live descendants of `pid`."""
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat(int(entry))[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in parents.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    try:
        return _stat(pid)[0] != "Z"
    except OSError:
        return False


def hwm_kb(pid: int) -> int:
    """Peak resident set size of `pid` in KiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by `pid` and all its
    descendants, live ones and reaped ones alike."""
    pid = os.getpid() if pid is None else pid
    total = 0
    for p in [pid, *children(pid)]:
        try:
            f = _stat(p)
        except OSError:
            continue  # exited meanwhile: its time is in its parent's cutime
        # utime, stime, cutime, cstime
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK
