"""The host and the benchmark's own process tree, read from ``/proc``:
sizing, peak memory, CPU time and the hypervisor's CPU steal."""

from __future__ import annotations

import os

CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def host_sizing() -> tuple[int, str]:
    """(cores this process may use, driver heap). Local mode runs every
    executor thread inside the driver JVM; the engine's 24g default
    does not fit small hosts, and 2 GiB holds both workloads' inputs
    many times over. The heap is committed and touched at start-up, so
    peak RSS measures what the run adds beyond it (code, metaspace,
    off-heap buffers, Python workers) instead of when the collector
    chose to grow the heap."""
    return len(os.sched_getaffinity(0)), "2048m"


def descendants() -> set[int]:
    """Pids of every live descendant of this process (the driver JVM,
    the Python worker daemon and its workers)."""
    parents: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parents[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = set(), [os.getpid()]
    while frontier:
        pid = frontier.pop()
        for child, parent in parents.items():
            if parent == pid and child not in tree:
                tree.add(child)
                frontier.append(child)
    return tree


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every
    descendant."""
    total_kb = 0
    for pid in descendants() | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(
                    (int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0
                )
        except OSError:
            continue
    return total_kb / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant, with the children each of them has reaped (so a
    Python worker that has exited still counts). Time the hypervisor
    stole from a CPU is not charged to the process that was running on
    it, so this does not grow when the host takes CPUs away."""
    ticks = 0
    for pid in descendants() | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / CLOCK_TICKS


def cpu_steal_share() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far: the share of
    time a hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)
