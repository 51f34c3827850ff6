"""Summary statistics for latency samples."""

from __future__ import annotations

import statistics

# A tail percentile is only reported where at least this many samples lie
# beyond it; fewer makes the figure one or two unlucky samples.
TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    ``TAIL_BEYOND`` samples beyond it, by the nearest-rank rule.

    The percentile never drops below the median: with fewer than
    ``2 * TAIL_BEYOND`` samples the median is returned as p50."""
    if not samples:
        raise ValueError("tail of an empty sample")
    n = len(samples)
    pct = 100.0 * (n - TAIL_BEYOND) / n
    if pct <= 50.0:
        return statistics.median(samples), 50.0
    return sorted(samples)[n - TAIL_BEYOND - 1], pct


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
