"""Resource use of the benchmark process and its JVM, read from ``/proc``
(psutil is not installed)."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, by pid, for this
    process and all its descendants."""
    stats = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stats[int(pid)] = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    family, grew = {os.getpid()}, True
    while grew:
        kids = {p for p, f in stats.items() if int(f[1]) in family} - family
        family |= kids
        grew = bool(kids)
    return {pid: stats[pid] for pid in family if pid in stats}


def cpu_seconds() -> float:
    """User plus system CPU time used so far by this process and its
    descendants (the JVM). Time the host steals from the guest is not in it."""
    return sum(int(f[11]) + int(f[12]) for f in _stats().values()) / _TICK


def peak_rss_mb() -> dict[int, float]:
    """Peak RSS (VmHWM), in MB, of this process and each descendant, by pid."""
    peaks = {}
    for pid in _stats():
        try:
            with open(f"/proc/{pid}/status") as fh:
                peaks[pid] = sum(int(l.split()[1]) for l in fh if l.startswith("VmHWM:")) / 1024
        except OSError:
            continue
    return peaks


def host_jiffies() -> tuple[int, int]:
    """(busy, stolen) CPU jiffies of the whole host so far, from
    ``/proc/stat``: busy is user + nice + system + irq + softirq; stolen is
    time a vCPU was ready to run but the hypervisor ran something else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


class Meter:
    """Wall time, process CPU time and the host's steal share over a block.

    ``net_s`` is the wall time scaled by the share of wanted CPU time the
    guest actually got: to first order, what the block would take on a host
    that steals nothing. On a shared host that is the steadier figure."""

    def __enter__(self) -> "Meter":
        self._wall, self._cpu, self._host = time.perf_counter(), cpu_seconds(), host_jiffies()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._wall
        self.cpu_s = cpu_seconds() - self._cpu
        busy, stolen = (b - a for a, b in zip(self._host, host_jiffies()))
        self.steal_share = stolen / (busy + stolen) if busy + stolen else 0.0
        self.net_s = self.wall_s * (1.0 - self.steal_share)
