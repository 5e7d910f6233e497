"""Summary statistics shared by the benchmark and its self-tests."""

from __future__ import annotations

import statistics

#: the tail is the highest percentile with at least this many samples beyond it
TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """-> (value, percentile): the sample with exactly TAIL_BEYOND
    samples above it, i.e. percentile 100*(n-10)/n.  Up to 2*TAIL_BEYOND
    samples that percentile would not exceed the median, so the median
    (percentile 50) is reported instead."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    if n <= 2 * TAIL_BEYOND:
        return median(xs), 50.0
    return float(sorted(xs)[n - TAIL_BEYOND - 1]), 100.0 * (n - TAIL_BEYOND) / n
