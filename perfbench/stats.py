"""Order statistics used for every reported timing."""

from __future__ import annotations

import math


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) of a non-empty
    sample, the same rule as ``numpy.percentile``'s default."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def supported_percentile(n: int) -> float:
    """Highest of p99/p95/p90/p75 with at least ten samples beyond it, else p50."""
    for q in (99.0, 95.0, 90.0, 75.0):
        if n * (100.0 - q) / 100.0 >= 10:
            return q
    return 50.0
