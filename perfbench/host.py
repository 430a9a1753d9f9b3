"""The host's CPU accounting, to tell the program's time from the host's.

On a virtual machine the hypervisor runs other guests on this machine's
CPUs ("steal"); an operation then takes longer although the program did
nothing different. The benchmark records the CPU counters around every
operation and reports its time without the stolen share.
"""

from __future__ import annotations

from pathlib import Path

STEAL = 7
IDLE = (3, 4)  # idle, iowait


def cpu_ticks() -> list[int]:
    """Aggregate CPU counters of the machine: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]


def delta(before: list[int], after: list[int]) -> list[int]:
    return [b - a for a, b in zip(before, after)]


def steal_share(ticks: list[int]) -> float:
    """Share of the CPU time the machine wanted that the host took:
    steal over steal plus busy time (idle time cannot be stolen)."""
    busy = sum(t for i, t in enumerate(ticks) if i not in IDLE)
    return ticks[STEAL] / busy if busy else 0.0


def unstolen(seconds: float, ticks: list[int]) -> float:
    """An operation's wall time less the share the host stole."""
    return seconds * (1.0 - steal_share(ticks))
