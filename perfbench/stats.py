"""Arithmetic the benchmark reports with. Pure functions on plain numbers, so
they are unit-tested without Spark (perfbench/test_stats.py)."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence

TAIL_BEYOND = 10  # samples that must lie above the reported tail percentile


def merge_intervals(intervals: Iterable[tuple[float, float]]) -> list[tuple[float, float]]:
    """Union of closed intervals as a sorted list of disjoint intervals.
    Spark's adaptive execution runs jobs of one operation concurrently, so
    their busy time is the union of the job intervals, not their sum."""
    merged: list[list[float]] = []
    for start, end in sorted(intervals):
        if end < start:
            raise ValueError(f"interval ends before it starts: {(start, end)}")
        if merged and start <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], end)
        else:
            merged.append([start, end])
    return [(s, e) for s, e in merged]


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total = 0.0
    for s, e in merge_intervals(intervals):
        s, e = max(s, lo), min(e, hi)
        if e > s:
            total += e - s
    return total


def gap(start: float, end: float, jobs: Iterable[tuple[float, float]]) -> float:
    """Driver time of an operation spanning [start, end]: its wall time
    minus the time at least one of its Spark jobs was running."""
    return (end - start) - covered(jobs, start, end)


def self_time(span: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it that its child spans cover."""
    lo, hi = span
    return (hi - lo) - covered(children, lo, hi)


def tail(values: Sequence[float]) -> tuple[float, float] | None:
    """The highest percentile that has at least TAIL_BEYOND samples above
    it, as ``(percentile, value)``; None when there are too few samples."""
    n = len(values)
    rank = n - TAIL_BEYOND  # 1-based rank of the reported sample
    if rank < 1:
        return None
    return 100.0 * rank / n, sorted(values)[rank - 1]


def geomean(values: Sequence[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median(values: Sequence[float]) -> float:
    return statistics.median(values)
