"""Percentiles and the tail rule shared by every workload."""

from __future__ import annotations

import math

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def pct(values, p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return pct(values, 50.0)


def tail(values) -> tuple[float, float, int]:
    """``(percentile, value, samples)``: the highest candidate percentile
    with at least 10 samples beyond it; the median when there are fewer
    than 20 samples."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        if round(n * (100.0 - p) / 100.0, 9) >= 10:
            return p, pct(values, p), n
    return 50.0, pct(values, 50.0), n


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))
