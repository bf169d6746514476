"""The tail-percentile rule: the highest percentile with at least ten
samples beyond it."""

from __future__ import annotations

import math

import pytest

from perfbench.stats import TAIL_SAMPLES_BEYOND, nearest_rank, tail, tail_percentile


def _beyond(n: int, pct: int) -> int:
    """Samples strictly after the nearest-rank position of ``pct``."""
    return n - max(1, math.ceil(pct * n / 100))


@pytest.mark.parametrize("n", range(1, 400))
def test_tail_percentile_is_the_highest_with_ten_beyond(n):
    pct = tail_percentile(n)
    if pct is None:
        assert all(_beyond(n, p) < TAIL_SAMPLES_BEYOND for p in range(1, 100))
        return
    assert _beyond(n, pct) >= TAIL_SAMPLES_BEYOND
    assert all(_beyond(n, p) < TAIL_SAMPLES_BEYOND for p in range(pct + 1, 101))


def test_known_points():
    assert tail_percentile(10) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99


def test_tail_value_and_median_fallback():
    xs = [float(i) for i in range(1, 101)]
    assert tail(xs) == (nearest_rank(xs, 90), 90) == (90.0, 90)
    few = [3.0, 1.0, 2.0]
    assert tail(few) == (2.0, 50)
