"""The benchmark's view of its own processes, read from /proc.

A run is one Python driver, the gateway JVM it starts, and the Python
workers the JVM forks. ``descendants`` finds them (so run.py can wait for
every one to end), ``tree_cpu_s`` totals the CPU time they have used, and
``cpu_ticks``/``steal_share`` tell how much CPU the hypervisor gave to other
tenants of the host meanwhile.

CPU seconds are what the end-to-end metrics count. On a host shared with
other tenants, the hypervisor takes whole stretches of time from the
machine's cores (steal). In one run 21 % of the CPU time went to other
tenants: the measured query pass took 2.05 times the median wall time of
four runs of other seeds, but only 1.18 times their median CPU time.
"""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat from the state on (field 3 is index 0),
    or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root: int) -> dict[int, str]:
    """Every live process below ``root``, as pid -> start time (field 22),
    so a pid reused later is not taken for one of ours."""
    parent: dict[int, int] = {}
    started: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat(entry)
        if fields is not None and fields[0] != "Z":
            parent[int(entry)] = int(fields[1])
            started[int(entry)] = fields[19]
    out: dict[int, str] = {}
    frontier = [root]
    while frontier:
        pid = frontier.pop()
        for child, ppid in parent.items():
            if ppid == pid and child not in out:
                out[child] = started[child]
                frontier.append(child)
    return out


def alive(pid: int, started: str) -> bool:
    fields = _stat(pid)
    return fields is not None and fields[0] != "Z" and fields[19] == started


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it, children that have ended and been waited for included
    (fields 14-17). Time the hypervisor gave to other tenants is not in it."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        fields = _stat(pid)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other tenants in between.
    Reported with the details: a run that reads slow on every timing at
    once usually shows it here."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


class Stopwatch:
    """Wall seconds and CPU seconds (``tree_cpu_s``) of a ``with`` block."""

    def __enter__(self) -> Stopwatch:
        self._cpu0 = tree_cpu_s()
        self._wall0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._wall0
        self.cpu_s = tree_cpu_s() - self._cpu0
