"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

#: percentiles tried, highest first, by `tail_percentile`
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(p: float, n: int) -> int:
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in floating point
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def nearest_rank(sorted_values: list[float], p: float) -> float:
    """The p-th percentile by the nearest-rank rule."""
    return sorted_values[_rank(p, len(sorted_values)) - 1]


def tail_percentile(values: list[float], min_beyond: int = 10):
    """The highest percentile with at least `min_beyond` samples above it.

    Returns (p, value, n) or None when even the median lacks that support.
    A sample counts as beyond the p-th percentile when its nearest rank is
    higher, so with n samples p has n - ceil(p * n / 100) samples beyond it.
    """
    n = len(values)
    if n == 0:
        return None
    s = sorted(values)
    for p in TAIL_CANDIDATES:
        if n - _rank(p, n) >= min_beyond:
            return p, nearest_rank(s, p), n
    return None


def summarize(values: list[float]) -> dict:
    """Median, supported tail percentile and sample count of one timing."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None}
    tail = tail_percentile(values)
    if tail is not None:
        out["tail_p"], out["tail"] = tail[0], tail[1]
    return out


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with Python's default quantile method."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
