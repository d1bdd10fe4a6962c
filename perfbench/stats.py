"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics

#: A tail percentile is reported only with at least this many samples
#: beyond it.
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def geomean(values: list[float]) -> float:
    """Geometric mean: every operation kind weighs the same, whatever its size."""
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """The highest percentile that has at least ``beyond`` samples above it,
    as ``(percentile, value)`` by the nearest-rank rule.

    With ``n`` samples that is the sample of rank ``n - beyond``
    (1-based), i.e. percentile ``100 * (n - beyond) / n``. With
    ``beyond`` samples or fewer no such percentile exists; the median is
    returned as percentile 50 so that the figure stays defined, and the
    sample count printed next to it says so.
    """
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return 50.0, median(xs)
    rank = n - beyond
    return 100.0 * rank / n, float(xs[rank - 1])
