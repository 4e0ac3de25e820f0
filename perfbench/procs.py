"""The driver JVM's process tree as /proc shows it: peak memory and CPU time."""

from __future__ import annotations

import os

CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name."""
    with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def process_tree(pid: int) -> list[int]:
    """``pid`` followed by all its live descendants."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(entry))[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def hwm_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU time of ``pids`` and of their reaped children."""
    ticks = 0
    for pid in pids:
        try:
            fields = _stat_fields(pid)
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / CLOCK_TICKS
