"""Summary statistics of one run's operation timings."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie above a reported tail percentile


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile that still has
    ``TAIL_BEYOND`` samples above it, by nearest rank; ``None`` when the
    sample count supports no such percentile above the median."""
    xs = sorted(samples)
    k = len(xs) - 1 - TAIL_BEYOND
    if k <= (len(xs) - 1) // 2:
        return None
    return xs[k], 100.0 * (k + 1) / len(xs)


def median_or_zero(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
