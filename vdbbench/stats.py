"""Summary statistics used by every workload."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(percentile, value)``. With n samples the rank is
    n - beyond (1-based, nearest-rank), i.e. percentile 100·(n-beyond)/n;
    with ``beyond`` or fewer samples there is no such percentile and the
    median is returned instead.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= beyond:
        return 50.0, median(xs)
    rank = n - beyond
    return 100.0 * rank / n, float(xs[rank - 1])


def geomean(values) -> float:
    xs = [float(v) for v in values]
    if not xs or min(xs) <= 0:
        raise ValueError(f"geomean needs positive values, got {xs}")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def spread(values) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
