"""Percentiles as the benchmark reports them."""

from __future__ import annotations

import math


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (0 for an empty list)."""
    if not values:
        return 0.0
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[min(k, len(xs)) - 1]


def median(values: list[float]) -> float:
    if not values:
        return 0.0
    xs = sorted(values)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def p50(values: list[float]) -> float:
    """The Harrell-Davis estimate of the median: a mean of every order
    statistic, the i-th (of n) weighted by the mass of Beta((n+1)/2,
    (n+1)/2) on [(i-1)/n, i/n]. With a few samples of several request
    classes, the sample median jumps when two classes trade places around
    the middle; this estimate moves smoothly."""
    n = len(values)
    if n < 3:
        return median(values)
    xs = sorted(values)
    a = (n + 1) / 2.0
    log_beta = 2 * math.lgamma(a) - math.lgamma(2 * a)

    def pdf(x: float) -> float:
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp((a - 1) * (math.log(x) + math.log1p(-x)) - log_beta)

    steps = 64  # Simpson panels per order statistic
    weights = []
    for i in range(n):
        lo, h = i / n, 1.0 / (n * steps)
        inner = sum((4 if k % 2 else 2) * pdf(lo + k * h) for k in range(1, steps))
        weights.append((pdf(lo) + inner + pdf(lo + steps * h)) * h / 3)
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def tail(values: list[float]) -> tuple[float, int, int]:
    """The highest whole percentile with at least ten samples beyond it:
    (value, percentile, sample count). Below 20 samples no percentile
    above the median qualifies, and the median is reported as p50."""
    n = len(values)
    p = 50
    if n >= 20:
        p = max(50, min(99, math.floor(100.0 * (n - 10) / n)))
    return (median(values) if p == 50 else percentile(values, p)), p, n
