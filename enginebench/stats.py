"""Summary statistics and box-state probes for the engine benchmark."""

from __future__ import annotations

import math
import os
import statistics
import time


def nearest_rank(values: list[float], q: float) -> float:
    """The nearest-rank ``q`` quantile: the smallest sample with at least
    ``q`` of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    k = max(1, math.ceil(q * len(s)))
    return s[k - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q`` quantile."""
    return n - max(1, math.ceil(q * n))


def tail_percentile(values: list[float], q: float, beyond: int = 10) -> float | None:
    """The nearest-rank ``q`` quantile, or None when fewer than ``beyond``
    samples lie above it (a p90 needs 100 samples)."""
    if samples_beyond(len(values), q) < beyond:
        return None
    return nearest_rank(values, q)


def gmean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of ``statistics.quantiles``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def calib_kernel(n: int = 2_000_000) -> int:
    """A fixed single-core CPU kernel (a 32-bit LCG in pure-Python integer
    math, as in ``bench.py``): its wall time is a box-speed reading."""
    x = 1
    for _ in range(n):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return x


def _cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return sum(fields[:8]), steal


def loadavg() -> float:
    return os.getloadavg()[0]


class BoxProbe:
    """Load average and CPU steal at the start and end of a run, plus the
    calibration kernel's time before the JVM starts. These explain an
    outlier run; no metric is adjusted by them."""

    def __init__(self) -> None:
        self.start_load = loadavg()
        j0 = _cpu_jiffies()
        t0 = time.perf_counter()
        calib_kernel()
        self.calib_s = time.perf_counter() - t0
        j1 = _cpu_jiffies()
        self.start_steal = _steal_frac(j0, j1)
        self._run_start = j1

    def finish(self) -> dict:
        end = _cpu_jiffies()
        return {
            "calib_s": round(self.calib_s, 4),
            "loadavg_start": self.start_load,
            "loadavg_end": loadavg(),
            "steal_frac_start": self.start_steal,
            "steal_frac_run": _steal_frac(self._run_start, end),
            "cpus": os.cpu_count(),
        }


def _steal_frac(a: tuple[int, int], b: tuple[int, int]) -> float:
    total = b[0] - a[0]
    return round((b[1] - a[1]) / total, 4) if total > 0 else 0.0
