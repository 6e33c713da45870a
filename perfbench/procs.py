"""Memory of this process and every process it started
(the JVM), read from Linux ``/proc``."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def family() -> set[int]:
    parents: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                parents[int(entry)] = int(_stat(int(entry))[1])
            except (OSError, ValueError, IndexError):
                pass
    found, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for child, parent in parents.items():
            if parent == p and child not in found:
                found.add(child)
                frontier.append(child)
    return found


def peak_rss_mb(pids) -> float:
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                total_kb += next(int(line.split()[1]) for line in f
                                 if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return total_kb / 1024


def process_age_s() -> float:
    """Seconds since this process started."""
    start_ticks = int(_stat(os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK
