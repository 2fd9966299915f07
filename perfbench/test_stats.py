"""Unit tests for the benchmark's arithmetic; synthetic inputs, no Spark.

Run: python3 -m pytest perfbench/test_stats.py -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import covered, gap, geomean, merge_intervals, self_time, tail  # noqa: E402


def test_union_of_overlapping_job_intervals():
    jobs = [(5.0, 7.0), (0.0, 2.0), (1.0, 3.0), (2.5, 4.0), (7.0, 8.0)]
    assert merge_intervals(jobs) == [(0.0, 4.0), (5.0, 8.0)]
    assert covered(jobs, 0.0, 10.0) == pytest.approx(7.0)


def test_union_clips_to_the_window():
    assert covered([(0.0, 4.0), (6.0, 9.0)], 2.0, 7.0) == pytest.approx(3.0)


def test_union_rejects_a_reversed_interval():
    with pytest.raises(ValueError):
        merge_intervals([(2.0, 1.0)])


def test_gap_is_wall_minus_busy_union():
    # two concurrent jobs cover [1, 4]; the op runs [0, 6]
    assert gap(0.0, 6.0, [(1.0, 3.0), (2.0, 4.0)]) == pytest.approx(3.0)
    assert gap(0.0, 6.0, []) == pytest.approx(6.0)
    assert gap(0.0, 6.0, [(0.0, 6.0), (1.0, 2.0)]) == pytest.approx(0.0)


def test_self_time_is_span_minus_children():
    assert self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]) == pytest.approx(4.0)
    assert self_time((0.0, 10.0), []) == pytest.approx(10.0)


def test_tail_keeps_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100
    pct, v = tail(values)
    assert (pct, v) == (90.0, 90)
    assert sum(x > v for x in values) == 10
    assert tail(list(range(10))) is None
    pct, v = tail([float(x) for x in range(20, 0, -1)])  # unsorted input
    assert (pct, v) == (50.0, 10.0)


def test_geomean_weights_each_value_equally():
    assert geomean([0.25, 4.0]) == pytest.approx(1.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
