"""Summary statistics the benchmark and the compare tool share."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def tail_percentile(n: int, want: float) -> float:
    """The highest percentile, at most ``want``, that leaves at least
    MIN_BEYOND of ``n`` samples beyond it; 50 when there are too few."""
    if n <= 0:
        return 50.0
    # floor in whole-percent steps so that n * (1 - p/100) >= MIN_BEYOND holds
    best = math.floor(100.0 * (1.0 - MIN_BEYOND / n) + 1e-9)
    return float(min(want, max(50, best)))


def percentile(xs: list[float], p: float) -> float:
    """Percentile interpolated linearly between the two nearest samples, so
    that p50 is the median and a tail never reads below it."""
    s = sorted(xs)
    h = (len(s) - 1) * p / 100.0
    lo = math.floor(h)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (h - lo) * (s[hi] - s[lo])


def tail(xs: list[float], want: float) -> tuple[float, float]:
    """(percentile used, value) under the ``tail_percentile`` rule."""
    p = tail_percentile(len(xs), want)
    return p, percentile(xs, p)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def median(xs: list[float]) -> float:
    return statistics.median(xs)
