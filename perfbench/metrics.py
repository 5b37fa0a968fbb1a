"""Summary statistics for the benchmark: nearest-rank percentiles, the
tail-percentile rule, medians and geometric means."""

from __future__ import annotations

import math
import statistics

# The tail percentile is the highest of these with at least MIN_BEYOND
# samples beyond it.
TAIL_CANDIDATES = (99, 95, 90, 75, 50)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the value at rank ceil(p/100 * n)."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return ordered[rank - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100 * n))


def tail_percentile(n: int) -> int | None:
    """Highest candidate percentile with MIN_BEYOND samples beyond it, or
    None when even the median lacks them."""
    for p in TAIL_CANDIDATES:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))
