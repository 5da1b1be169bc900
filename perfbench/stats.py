"""Order statistics shared by the run, report and A/B commands."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten of ``n`` samples beyond it.

    Below twenty samples no percentile from the median up qualifies; the
    tail is then the maximum, reported as percentile 100."""
    if n < 20:
        return 100
    return math.floor(100.0 * (n - 10) / n)


def tail(values: list[float]) -> tuple[float, int]:
    """(tail value, its percentile) under ``tail_percentile``."""
    p = tail_percentile(len(values))
    return percentile(values, p), p


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else math.inf
