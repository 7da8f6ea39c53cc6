"""Host readings from /proc: CPU busy and steal time, and the peak
resident memory of the Spark JVM and its Python workers."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[float, float]:
    """(busy_s, steal_s) summed over all CPUs since boot. Busy counts
    user, nice, system, irq and softirq (guest time is inside user)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    user, nice, system, _idle, _iowait, irq, softirq, steal = (int(x) for x in fields[:8])
    return (user + nice + system + irq + softirq) / _TICK, steal / _TICK


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def peak_rss_mb(pid: int) -> float:
    """Sum of the peak resident sets (VmHWM) of every live descendant of
    ``pid``: the JVM that pid launched and the Python workers under it."""
    total_kb = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
