"""Percentiles and the sample-count rule the benchmark reports timings by."""

from __future__ import annotations

import statistics

# A percentile is reported only when at least this many samples lie beyond
# it; fewer make the tail a handful of individual calls, not a distribution.
MIN_BEYOND = 10
CANDIDATES = (99.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the ``p``-th percentile
    rank (the samples a tail estimate at ``p`` actually rests on)."""
    return n - 1 - int((n - 1) * p / 100.0)


def tail_percentile(n: int) -> float | None:
    """The highest of 99/90/75/50 with at least MIN_BEYOND of ``n`` samples
    beyond it, or None when even the median is not supported."""
    for p in CANDIDATES:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)


def spread(values: list[float]) -> float:
    """Interquartile range as a share of the median, with the quartiles
    ``statistics.quantiles(values, n=4)`` gives."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
