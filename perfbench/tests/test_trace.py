"""The tracer's pure parts: SQL metric parsing and self time."""

from __future__ import annotations

import pytest

from perfbench.trace import Span, covered_s, metric_value, self_time


@pytest.mark.parametrize("text, value", [
    ("5,546", 5546.0),
    ("0", 0.0),
    ("1392.9 KiB", 1392.9 * 1024),
    ("0.0 B", 0.0),
    ("739 ms", 739.0),
    ("1.0 s", 1000.0),
    ("2.5 m", 150_000.0),
    ("total (min, med, max (stageId: taskId))\n27.5 KiB (5.5 KiB, 6.9 KiB, 9.6 KiB (stage 27.0: task 45))", 27.5 * 1024),
    ("total (min, med, max (stageId: taskId))\n24 ms (11 ms, 13 ms, 13 ms (stage 17.0: task 26))", 24.0),
])
def test_metric_value_reads_the_total(text, value):
    assert metric_value(text) == pytest.approx(value)


def test_metric_value_rejects_text_without_a_number():
    with pytest.raises(ValueError):
        metric_value("")


def test_covered_s_is_the_clipped_union():
    assert covered_s([], 0, 10) == 0
    assert covered_s([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered_s([(-5, 2), (9, 20)], 0, 10) == 3


def test_self_time_subtracts_children_and_jobs():
    parent = Span("op", 0, None, "r", False, start=0.0, end=10.0)
    kids = [Span("a", 1, 0, "r", False, 1.0, 4.0), Span("b", 2, 0, "r", False, 3.0, 6.0)]
    assert self_time(parent, kids) == pytest.approx(5.0)
    call = Span("call", 3, 0, "r", True, start=0.0, end=2.0)
    call.jobs = [(0.5, 1.0), (0.8, 1.5)]
    assert self_time(call, []) == pytest.approx(1.0)
