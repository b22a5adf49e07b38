"""Host and process counters from /proc: the CPU time a pass costs, and
the steal, iowait and load that tell a noisy run from a regression."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
# HotSpot names its JIT compiler threads "C1 CompilerThread<n>" and
# "C2 CompilerThread<n>"; the kernel keeps the first 15 characters
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def host_cpu_s() -> dict:
    """Host-wide CPU seconds from /proc/stat: busy (user, nice, system, irq
    and softirq, all processes), iowait and steal; and the count of
    processes and threads created since boot.

    Busy time counts every process the run starts, also the Python workers
    that the PySpark daemon forks: it ignores SIGCHLD, so their CPU reaches
    no parent's reaped-children total once they exit. The benchmark's
    machine runs nothing else of note, so busy time is the run's CPU.
    """
    with open("/proc/stat") as f:
        lines = f.read().splitlines()
    vals = [int(v) / CLK_TCK for v in lines[0].split()[1:]]
    forks = next(int(x.split()[1]) for x in lines if x.startswith("processes "))
    return {
        "busy": vals[0] + vals[1] + vals[2] + vals[5] + vals[6],
        "iowait": vals[4],
        "steal": vals[7] if len(vals) > 7 else 0.0,
        "forks": forks,
    }


def load_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def jit_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of the JIT compiler threads of a JVM."""
    total = 0.0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:  # the thread ended while we looked
            continue
        if stat[stat.index("(") + 1:stat.rindex(")")].startswith(JIT_THREADS):
            total += sum(int(v) for v in stat[stat.rindex(")") + 2:].split()[11:13])
    return total / CLK_TCK

