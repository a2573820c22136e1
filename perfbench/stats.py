"""Order statistics for the run record."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10  # samples a reported percentile must have above it


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0-100)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> int:
    """The highest whole percentile of ``n`` samples that still has at
    least ``MIN_BEYOND`` samples above it (0 when none has)."""
    if n < MIN_BEYOND:
        return 0
    return math.floor(100.0 * (1.0 - MIN_BEYOND / n))


def tail(values: list[float], q: float) -> float:
    """The ``q``-th percentile, refusing one with fewer than
    ``MIN_BEYOND`` samples beyond it."""
    if len(values) * (100.0 - q) / 100.0 < MIN_BEYOND:
        raise ValueError(f"p{q:g} needs {MIN_BEYOND} samples beyond it; "
                         f"{len(values)} samples give "
                         f"{len(values) * (100.0 - q) / 100.0:.1f}")
    return percentile(values, q)


def median(values: list[float]) -> float:
    return statistics.median(values)
