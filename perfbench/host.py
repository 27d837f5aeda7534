"""What the host does to a run: CPU time stolen from the VM, and the peak
memory of this process tree.

Steal: on a virtual machine the hypervisor can hold a vCPU back while it has
work (``steal`` in ``/proc/stat``). Measured on a shared 4-vCPU VM, steal
went from 0% to over 30% of busy time within minutes and stretched the same
cycle's wall time by the same share, so it dominates run-to-run spread.
``Clock`` reads the machine-wide busy and steal jiffies with the wall clock;
``Clock.since`` returns the wall time net of the stolen share,
``wall * (1 - steal / (busy + steal))``. With no steal it is the wall time.

Memory: the tree is the driver Python process, the Spark JVM it launches and
the Python workers the JVM forks. A daemon thread walks ``/proc`` on a fixed
period and keeps the largest sum of proportional set sizes (PSS) seen. PSS
splits shared pages between the processes that map them, so a forked
worker's copy-on-write pages are not counted twice.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass


def _jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole machine."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


@dataclass(frozen=True)
class Clock:
    wall: float
    busy: int
    steal: int

    @classmethod
    def now(cls) -> "Clock":
        busy, steal = _jiffies()
        return cls(time.perf_counter(), busy, steal)

    def steal_share(self, end: "Clock") -> float:
        stolen = end.steal - self.steal
        return stolen / max(end.busy - self.busy + stolen, 1)

    def since(self, end: "Clock | None" = None) -> float:
        """Seconds from this reading to ``end`` (default: now), net of steal."""
        end = end or Clock.now()
        return (end.wall - self.wall) * (1.0 - self.steal_share(end))


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int | None = None) -> float:
    return sum(_pss_kb(p) for p in _tree(root or os.getpid())) / 1024.0


class PeakPss:
    """Samples ``tree_pss_mb`` every ``period`` seconds until ``stop``."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "PeakPss":
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self._stop.wait(self.period)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb
