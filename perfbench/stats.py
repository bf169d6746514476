"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only when at least this many samples
#: lie beyond it, so that one slow sample cannot set it alone
TAIL_SAMPLES_BEYOND = 10


def nearest_rank(values: list[float], pct: float) -> float:
    """The ``pct``-th percentile by the nearest-rank rule."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile with at least
    :data:`TAIL_SAMPLES_BEYOND` of ``n`` samples beyond its nearest-rank
    value, or None when ``n`` is too small for any."""
    if n <= TAIL_SAMPLES_BEYOND:
        return None
    pct = (100 * (n - TAIL_SAMPLES_BEYOND)) // n
    # ceil(pct * n / 100) <= n - 10 holds by construction; the loop
    # guards the integer rounding at the boundary
    while pct > 0 and math.ceil(pct * n / 100) > n - TAIL_SAMPLES_BEYOND:
        pct -= 1
    return pct if pct > 0 else None


def tail(values: list[float]) -> tuple[float, int]:
    """(value, percentile) of the latency tail: the tail percentile when
    it is at least the median, else the median itself (fewer than
    ``2 * TAIL_SAMPLES_BEYOND`` samples)."""
    pct = tail_percentile(len(values))
    if pct is None or pct < 50:
        return statistics.median(values), 50
    return nearest_rank(values, pct), pct


def median(values: list[float]) -> float:
    return statistics.median(values)
