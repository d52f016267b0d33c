"""Percentiles and the sample-size rule for tail percentiles.

A tail percentile is only reported when at least ``MIN_BEYOND`` samples
lie beyond it; below that, one slow sample decides the figure.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile (0 <= q <= 100) by linear interpolation
    between closest ranks, as ``numpy.percentile`` computes it by default."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q``-th percentile
    (ranks are 0-based, so the percentile sits at rank (n-1)*q/100)."""
    return max(0, n - 1 - math.floor((n - 1) * q / 100))


def supports(n: int, q: float) -> bool:
    """Whether a sample of ``n`` supports reporting the ``q``-th percentile."""
    return samples_beyond(n, q) >= MIN_BEYOND


def highest_supported_percentile(n: int) -> int | None:
    """The highest whole percentile that keeps ``MIN_BEYOND`` samples
    beyond it, or None when even the minimum has too few behind it."""
    for q in range(99, -1, -1):
        if supports(n, q):
            return q
    return None
