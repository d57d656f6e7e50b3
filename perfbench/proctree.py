"""Resource readings for this process and all its descendants (the driver
JVM and its Python workers), from /proc."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
SAMPLE_PERIOD_S = 0.2  # MemorySampler's interval between /proc readings


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        # fields after the parenthesised command name, from field 3 (state)
        return fh.read().rsplit(")", 1)[1].split()


def tree() -> set[int]:
    """Pids of this process and its live descendants."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parent[int(d)] = int(_stat_fields(d)[1])
            except (OSError, IndexError, ValueError):
                continue
    pids = {os.getpid()}
    while True:
        kids = {p for p, pp in parent.items() if pp in pids} - pids
        if not kids:
            return pids
        pids |= kids


def pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared with other processes (a forked
    worker and its parent) are split between them, not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def cpu_s() -> float:
    """CPU seconds (user + system) the process tree has used so far,
    including children it has reaped."""
    total = 0
    for pid in tree():
        try:
            f = _stat_fields(pid)
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return total / _TICK


class MemorySampler(threading.Thread):
    """Peak proportional set size of this process tree, sampled from /proc."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_ev = threading.Event()

    def run(self) -> None:
        while not self._stop_ev.is_set():
            self.peak = max(self.peak, sum(map(pss_bytes, tree())))
            self._stop_ev.wait(SAMPLE_PERIOD_S)

    def stop(self) -> int:
        self._stop_ev.set()
        self.join()
        return self.peak

