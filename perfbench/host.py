"""What a run ran on: CPU count, scratch filesystem, load average and the
share of CPU time stolen by the hypervisor during the run (from
``/proc/stat``). Reported with every run and never used to drop one."""

from __future__ import annotations

import os


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def filesystem(path: str) -> str:
    """``<fstype> <mount point>`` of the mount holding ``path``."""
    path = os.path.realpath(path)
    best = ("?", "")
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, fstype = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best[1]):
                best = (fstype, mnt)
    return f"{best[0]} {best[1]}"


def describe(before: list[int], after: list[int], scratch: str, cpus: int) -> dict:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    steal = d[7] if len(d) > 7 else 0
    return {
        "cpus": cpus,
        "nproc": os.cpu_count(),
        "scratch_fs": filesystem(scratch),
        "loadavg": os.getloadavg(),
        "steal_share": round(steal / total, 4),
    }
