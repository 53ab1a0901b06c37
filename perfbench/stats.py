"""Percentiles as the benchmark reports them (nearest-rank)."""

from __future__ import annotations

import math
import statistics

TAIL_MIN_ABOVE = 10


def tail_percentile(n: int, min_above: int = TAIL_MIN_ABOVE) -> int:
    """Highest whole percentile whose nearest-rank value leaves at least
    ``min_above`` of ``n`` samples strictly above its rank."""
    if n <= min_above:
        raise ValueError(f"{n} samples cannot leave {min_above} above a "
                         "percentile")
    for p in range(99, 0, -1):
        if n - _rank(p, n) >= min_above:
            return p
    raise ValueError(f"no percentile of {n} samples leaves {min_above} above")


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    return max(1, math.ceil(p / 100.0 * n))


def percentile(values: list[float], p: float) -> float:
    if not values:
        raise ValueError("percentile of no values")
    ordered = sorted(values)
    return ordered[_rank(p, len(ordered)) - 1]


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)
