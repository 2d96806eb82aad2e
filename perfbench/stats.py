"""The benchmark's own arithmetic: percentiles, span self time, the
per-round slope, slot utilization and failure counting.

Pure functions over plain numbers, so the tests can pin them without
a Spark session.
"""

from __future__ import annotations

import statistics
from collections.abc import Iterable

# Candidate tail percentiles, highest first. The reported tail is the
# highest one that still has at least TAIL_MIN_BEYOND samples above it.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def _rank(pct: float, n: int) -> int:
    """1-based nearest rank: ceil(pct * n / 100), at least 1."""
    return max(1, -(-round(pct * n * 10) // 1000))


def tail(values: Iterable[float]) -> tuple[float, float, int]:
    """(value, percentile, sample count) of the highest ladder
    percentile with at least ten samples ranked beyond it.

    A sample of fewer than twenty values has no such percentile; its
    maximum is reported with percentile 100, so the caller always gets
    a number and the printed percentile says what it is.
    """
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of an empty sample")
    for pct in TAIL_LADDER:
        if n - _rank(pct, n) >= TAIL_MIN_BEYOND:
            return s[_rank(pct, n) - 1], pct, n
    return s[-1], 100.0, n


def op_medians(samples: Iterable[tuple[str, float]]) -> dict[str, float]:
    """Each operation's median over its (name, latency) samples.

    A workload mixes operations whose latencies differ several-fold, so
    a percentile taken over the raw calls lands between two operations'
    clusters and jumps with one slow call; one value per operation
    keeps the percentile on an operation.
    """
    by_op: dict[str, list[float]] = {}
    for name, value in samples:
        by_op.setdefault(name, []).append(value)
    return {name: statistics.median(vals) for name, vals in by_op.items()}


def union_length(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover.
    Overlapping children are counted once."""
    return (end - start) - union_length(children, start, end)


def slope(points: Iterable[tuple[float, float]]) -> float:
    """Least-squares slope of y over x: seconds per round when x is
    the round count and y a wall time. Needs two distinct x values."""
    pts = list(points)
    xs = [x for x, _ in pts]
    if len(set(xs)) < 2:
        raise ValueError("slope needs at least two distinct x values")
    mx = statistics.fmean(xs)
    my = statistics.fmean(y for _, y in pts)
    num = sum((x - mx) * (y - my) for x, y in pts)
    den = sum((x - mx) ** 2 for x in xs)
    return num / den


def slot_util(executor_run_s: float, exec_wall_s: float, cores: int) -> float:
    """Executor run time over the task slots the exec wall offered."""
    if exec_wall_s <= 0 or cores <= 0:
        return 0.0
    return executor_run_s / (exec_wall_s * cores)


def failed_ratio(outcomes: Iterable[tuple[bool, bool]]) -> tuple[int, int, float]:
    """(attempted, failed, ratio) over (raised, mismatched) pairs, one
    per operation. An operation that both raised and mismatched counts
    once."""
    attempted = failed = 0
    for raised, mismatched in outcomes:
        attempted += 1
        failed += bool(raised or mismatched)
    return attempted, failed, (failed / attempted if attempted else 0.0)


def skew(median: float, maximum: float) -> float:
    """Max over median task time; 1.0 for an even stage."""
    return maximum / median if median > 0 else 1.0
