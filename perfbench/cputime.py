"""CPU seconds used by this process and everything it started.

The benchmark's end-to-end times are CPU seconds, not wall seconds: on a
virtual machine that shares its host, the hypervisor takes ("steals")
time from the guest's CPUs, and wall times moved by 1.4-2x from one
minute to the next while the CPU seconds of the same work moved by about
a tenth. The Linux guest does not charge stolen time to processes.

The process tree is this Python process, the gateway JVM it launched and
the Python workers the JVM forked. ``cutime``/``cstime`` carry the CPU of
children that have exited and been reaped, so a worker that ends between
two readings is still counted.
"""

from __future__ import annotations

import os

_TICK = float(os.sysconf("SC_CLK_TCK"))


def _stat(pid: str) -> tuple[int, int] | None:
    """(parent pid, utime + stime + cutime + cstime in ticks) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # the process ended while we listed /proc
        return None
    # the command name may hold spaces or parentheses: split after its last ")"
    fields = s[s.rfind(")") + 2 :].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of ``root`` (default: this process) and its descendants."""
    root = os.getpid() if root is None else root
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                procs[int(name)] = st
    ticks = 0
    for pid, (_, t) in procs.items():
        p = pid
        while p != root and p in procs:
            p = procs[p][0]
        if p == root:
            ticks += t
    return ticks / _TICK


def steal_ticks() -> tuple[int, int]:
    """(ticks stolen by the hypervisor, all ticks) over the machine's CPUs
    since boot, from the first line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])
