"""Summary statistics and host-state probes for the benchmark."""

from __future__ import annotations

import math
import os
import resource
import statistics
import time

def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def per_pass_percentile(samples: list[tuple[int, float]], p: float) -> float:
    """Median over passes of each pass's nearest-rank ``p``th percentile
    of its ``(pass, value)`` samples. A burst of host contention during
    one pass then moves the tail no more than it moves that pass's time,
    where a percentile pooled over a short run lands on the burst."""
    by_pass: dict[int, list[float]] = {}
    for pass_no, value in samples:
        by_pass.setdefault(pass_no, []).append(value)
    if not by_pass:
        raise ValueError("percentile of no samples")
    return statistics.median(percentile(v, p) for v in by_pass.values())


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie beyond the nearest-rank ``p``th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def trend(pass_times: list[float]) -> float:
    """Median of the first half of the passes over the median of the
    second half; well above 1 means the run was still warming up."""
    if len(pass_times) < 4:
        return 1.0
    half = len(pass_times) // 2
    return statistics.median(pass_times[:half]) / statistics.median(pass_times[-half:])


def steal_ticks() -> int:
    """Hypervisor steal ticks (USER_HZ) from /proc/stat, -1 if unreadable."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return -1


def calibrate_1t_ms(rounds: int = 3, n: int = 2_000_000) -> float:
    """Best of ``rounds`` timings of a fixed single-thread integer loop:
    a slow reading means the host, not the program, is slow."""
    best = float("inf")
    for _ in range(rounds):
        t0 = time.perf_counter()
        s = 0
        for i in range(n):
            s += i * i
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> tuple[float, float]:
    """Peak RSS in MB of this process, and the sum of the peaks of every
    process below it (the JVM that PySpark launches)."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    todo, kids_kb = _children(os.getpid()), 0
    while todo:
        pid = todo.pop()
        kids_kb += _hwm_kb(pid)
        todo.extend(_children(pid))
    return own_kb / 1024.0, kids_kb / 1024.0
