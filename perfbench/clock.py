"""Wall time net of hypervisor steal.

On a shared virtual machine the host runs other guests on the same
physical cores, and a virtual CPU that wants to run can be kept
waiting. The guest kernel counts that wait as ``steal`` in
``/proc/stat``. A run that lands in a busy minute of the host reads
slower on every time metric although the program did the same work.

A stopwatch reads the wall clock and, over the same interval, the busy
and steal ticks summed over every CPU of the machine. The steal share
``f = steal / (busy + steal)`` is the fraction of the time the CPUs that
wanted to run were held back. The work ran at ``1 - f`` of its speed,
so its time on CPUs that are not shared is ``wall * (1 - f)``. On a
machine without steal (or without steal accounting) the two are equal.
"""

from __future__ import annotations

import time


def _ticks() -> tuple[int, int]:
    """(busy, steal) ticks summed over all CPUs."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


class Stopwatch:
    """Starts when made; ``read()`` gives (wall_s, net_s) since then."""

    def __init__(self) -> None:
        self.busy, self.steal = _ticks()
        self.t = time.perf_counter()

    def read(self) -> tuple[float, float]:
        wall = time.perf_counter() - self.t
        busy, steal = _ticks()
        d_busy, d_steal = busy - self.busy, steal - self.steal
        share = d_steal / (d_busy + d_steal) if d_busy + d_steal > 0 else 0.0
        return wall, wall * (1.0 - share)
