"""Host and process counters read from ``/proc``: the host's CPU steal
share, and CPU time and peak resident memory of a process."""

from __future__ import annotations

import os


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host from the ``cpu`` line."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    total = sum(fields[:8])
    return fields[7], total


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def process_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of ``pid`` (its reaped children
    excluded)."""
    with open(f"/proc/{pid}/stat") as fh:
        rest = fh.read().rsplit(")", 1)[1].split()
    # fields after the comm: state is rest[0]; utime, stime are 14, 15
    return (int(rest[11]) + int(rest[12])) / os.sysconf("SC_CLK_TCK")


def self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def peak_rss_mb(pid: int) -> float:
    """High-water resident set of ``pid`` (VmHWM) in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(*roots: str) -> int:
    """Bytes of the regular files under ``roots``."""
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                path = os.path.join(dirpath, name)
                if not os.path.islink(path):
                    total += os.path.getsize(path)
    return total
