"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10  # a tail percentile needs this many samples above it


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float, int] | None:
    """Highest percentile with at least ``TAIL_BEYOND`` samples beyond it.

    Returns ``(value, percentile, n)`` or None when there are too few
    samples for any such percentile. The k-th smallest of n samples (1-based)
    is the ``100*k/n`` percentile and has ``n - k`` samples beyond it.
    """
    xs = sorted(values)
    n = len(xs)
    k = n - TAIL_BEYOND
    if k < 1:
        return None
    return xs[k - 1], 100.0 * k / n, n


def fail_ratio(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operation was attempted")
    return failed / attempted


def quartile_spread(values) -> float:
    """Distance between first and third quartile, as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
