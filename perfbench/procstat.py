"""CPU and memory of this process tree, and host load, read from /proc.

The tree is this Python process, the JVM it launches and the JVM's Python
workers. CPU of a process that exits counts once its parent (also in the
tree) reaps it, through the parent's cutime/cstime.
"""

from __future__ import annotations

import os
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces; fields restart after its ')'
        return f.read().rsplit(")", 1)[1].split()


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, so the
    interpreter's own start-up counts)."""
    start_ticks = int(_stat_fields("self")[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _CLK


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(entry)[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    total = 0
    for pid in tree_pids():
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def tree_peak_rss_bytes() -> int:
    """Sum over the tree of each process's peak resident set (VmHWM): an
    upper bound of the tree's simultaneous peak, read without sampling."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def host_cpu_s() -> tuple[float, float]:
    """(busy, steal) core-seconds of the whole host since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return (user + nice + system + irq + softirq) / _CLK, steal / _CLK


class Meter:
    """Wall time, tree CPU and host steal over one interval.

    ``unstolen()`` is the wall time less the share the hypervisor gave to
    other guests: the tree ran ``cpu`` CPU-seconds and its vCPUs were held
    off for ``steal`` core-seconds, so it got cpu / (cpu + steal) of the
    time it asked for. With no steal it is the wall time itself.
    """

    def __init__(self, since: tuple[float, float, float] | None = None) -> None:
        self.t0, self.cpu0, self.steal0 = since or (
            time.perf_counter(), tree_cpu_s(), host_cpu_s()[1]
        )

    def stop(self) -> Meter:
        self.wall = time.perf_counter() - self.t0
        self.cpu = tree_cpu_s() - self.cpu0
        self.steal = host_cpu_s()[1] - self.steal0
        return self

    def unstolen(self) -> float:
        demand = self.cpu + self.steal
        return self.wall * self.cpu / demand if demand > 0 else self.wall
