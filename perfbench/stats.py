"""Summary statistics shared by every workload."""

from __future__ import annotations

import math
import statistics

# Percentiles a tail figure may be reported at, highest last.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def _rank(p: float, n: int) -> int:
    # rounded first so 99.9% of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p * n / 100.0, 6)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the value at rank ceil(p/100 * n))."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(p, len(values)) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least ten samples beyond it,
    or None when even the median has fewer than ten above it."""
    best = None
    for p in LADDER:
        if n - _rank(p, n) >= 10:
            best = p
    return best


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) for the highest percentile the sample supports."""
    p = tail_percentile(len(values))
    if p is None:
        raise ValueError(f"{len(values)} samples support no tail percentile")
    return p, percentile(values, p)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))
