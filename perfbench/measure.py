"""Small measurement helpers: percentiles, host steal, process memory."""

from __future__ import annotations

import math
import os
import statistics

MIN_BEYOND = 10


def median(samples: list[float]) -> float:
    if not samples:
        raise ValueError("median of no samples")
    return statistics.median(samples)


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile. Refuses a tail percentile that
    fewer than MIN_BEYOND samples lie beyond: such a figure is set by a
    handful of outliers and does not repeat from run to run."""
    n = len(samples)
    rank = math.ceil(p / 100.0 * n)
    if n == 0 or n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{p:g} of {n} samples has {max(n - rank, 0)} beyond it; "
            f"need at least {MIN_BEYOND}")
    return sorted(samples)[rank - 1]


def tail(samples: list[float]) -> tuple[int, float] | None:
    """(p, value) for the highest whole percentile that still has
    MIN_BEYOND samples beyond it, or None when there are too few."""
    n = len(samples)
    p = (100 * (n - MIN_BEYOND)) // n if n else 0
    while p >= 1:
        try:
            return p, percentile(samples, p)
        except ValueError:
            p -= 1
    return None


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        parts = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return parts[7], sum(parts[:8])


def steal_fraction(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    total = t1[1] - t0[1]
    return (t1[0] - t0[0]) / total if total > 0 else 0.0


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for process {pid}")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total
