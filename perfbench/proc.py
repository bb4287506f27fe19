"""Resource use of this process and every process it started (the Python
driver plus its Spark JVM), read from /proc."""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _tree() -> set[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    mine, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in mine]
        mine.update(kids)
        frontier.extend(kids)
    return mine


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over the process tree."""
    kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024.0


def cpu_s() -> float:
    """User plus system CPU seconds the process tree has used so far."""
    ticks = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])  # utime, stime
        except (OSError, IndexError, ValueError):
            continue
    return ticks / TICK
