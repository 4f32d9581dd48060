"""Small statistics helpers shared by the runs and the steadiness report."""

from __future__ import annotations

import math
import statistics

# Percentiles a run may report, lowest first.
PERCENTILE_LADDER = (50.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, p: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def reportable_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ten samples beyond it, or
    None when even the median has fewer than ten above it."""
    best = None
    for p in PERCENTILE_LADDER:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            best = p
    return best


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)``."""
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
