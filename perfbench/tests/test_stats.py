"""Tests for the benchmark's own arithmetic (perfbench/stats.py).

Run with:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_tail_picks_highest_percentile_with_ten_beyond():
    # 1000 samples: p99 leaves 10 beyond (ranks 991..1000), p99.9 only 1
    assert stats.tail(range(1000)) == (989, 99.0, 1000)
    # 100 samples: p90 leaves exactly 10 beyond, p95 only 5
    assert stats.tail(range(100)) == (89, 90.0, 100)
    # 10000 samples reach p99.9
    assert stats.tail(range(10000))[1] == 99.9


def test_tail_never_reports_a_percentile_with_fewer_than_ten_beyond():
    for n in range(20, 400):
        _, pct, count = stats.tail(range(n))
        assert count == n
        assert n - stats._rank(pct, n) >= stats.TAIL_MIN_BEYOND


def test_tail_small_sample_falls_back_to_max():
    # 19 samples: even p50 (rank 10) leaves only 9 beyond
    assert stats.tail([5.0] * 18 + [7.0]) == (7.0, 100.0, 19)
    assert stats.tail(range(20)) == (9, 50.0, 20)


def test_tail_is_order_independent():
    vals = [3.0, 1.0, 2.0] * 40
    assert stats.tail(vals) == stats.tail(sorted(vals))


def test_op_medians_one_value_per_operation():
    got = stats.op_medians([("a", 1.0), ("b", 3.0), ("a", 5.0), ("a", 2.0), ("b", 4.0)])
    assert got == {"a": 2.0, "b": 3.5}


def test_op_medians_p50_stays_on_an_operation():
    # two passes over three operations; one slow call of the fastest
    # moves the median of the raw calls, not the median over operations
    steady = [("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0), ("c", 3.0), ("c", 3.0)]
    hiccup = [("a", 1.0), ("a", 2.5)] + steady[2:]
    assert statistics.median(v for _, v in steady) == 2.0
    assert statistics.median(v for _, v in hiccup) == 2.25
    for calls in (steady, hiccup):
        per_op = stats.op_medians(calls)
        assert statistics.median(per_op.values()) == 2.0
        assert stats.tail(per_op.values()) == (3.0, 100.0, 3)


def test_self_time_subtracts_children():
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == pytest.approx(7.0)


def test_self_time_counts_overlapping_children_once():
    assert stats.self_time(0.0, 10.0, [(1.0, 4.0), (2.0, 5.0), (3.0, 3.5)]) == pytest.approx(6.0)


def test_self_time_clips_children_to_the_span():
    # a job that started before build() and ended after it only
    # covers the part inside the span
    assert stats.self_time(2.0, 6.0, [(0.0, 3.0), (5.0, 9.0), (7.0, 8.0)]) == pytest.approx(2.0)
    assert stats.self_time(0.0, 1.0, []) == pytest.approx(1.0)


def test_slope_is_seconds_per_round():
    # wall 4 s at 4 rounds, 10 s at 16 rounds -> 0.5 s per round
    assert stats.slope([(4, 4.0), (16, 10.0)]) == pytest.approx(0.5)
    # repeated samples at each depth: least squares through the means
    assert stats.slope([(4, 3.0), (4, 5.0), (16, 9.0), (16, 11.0)]) == pytest.approx(0.5)


def test_slope_needs_two_depths():
    with pytest.raises(ValueError):
        stats.slope([(4, 1.0), (4, 2.0)])


def test_slot_util():
    # 6 s of executor run time in a 2 s exec wall on 4 cores: 75%
    assert stats.slot_util(6.0, 2.0, 4) == pytest.approx(0.75)
    assert stats.slot_util(1.0, 0.0, 4) == 0.0


def test_failed_ratio_counts_each_operation_once():
    outcomes = [(False, False), (True, False), (False, True), (True, True)]
    assert stats.failed_ratio(outcomes) == (4, 3, 0.75)
    assert stats.failed_ratio([(False, False)] * 5) == (5, 0, 0.0)
    assert stats.failed_ratio([]) == (0, 0, 0.0)


def test_skew():
    assert stats.skew(2.0, 6.0) == pytest.approx(3.0)
    assert stats.skew(0.0, 0.0) == 1.0
