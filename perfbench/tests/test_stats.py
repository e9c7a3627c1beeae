"""The benchmark's own arithmetic. Run: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace as NS

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.stats import (  # noqa: E402
    Outcomes,
    core_busy_frac,
    median,
    nearest_rank,
    pass_samples,
    self_time,
    tail,
    tail_percentile,
)


def test_nearest_rank_picks_an_observed_sample():
    vals = [float(v) for v in range(1, 101)]
    assert nearest_rank(vals, 50) == 50.0
    assert nearest_rank(vals, 90) == 90.0
    assert nearest_rank(vals, 100) == 100.0
    assert nearest_rank([3.0, 1.0, 2.0], 0) == 1.0


@pytest.mark.parametrize("n", [20, 21, 33, 40, 100, 101, 1000])
def test_tail_percentile_leaves_ten_samples_beyond(n):
    pct = tail_percentile(n)
    vals = [float(v) for v in range(n)]
    value = nearest_rank(vals, pct)
    assert sum(v > value for v in vals) >= 10
    # one percentile higher would leave fewer than ten beyond
    if pct < 99:
        higher = nearest_rank(vals, pct + 1)
        assert sum(v > higher for v in vals) < 10


def test_tail_percentile_known_values():
    assert tail_percentile(100) == 90
    assert tail_percentile(20) == 50
    assert tail_percentile(33) == 69
    assert tail_percentile(19) is None
    assert tail_percentile(1000) == 99


def test_small_sample_tail_is_the_maximum():
    t = tail([0.3, 0.1, 0.2, 4.5, 0.4])
    assert (t.pct, t.value, t.n) == (100, 4.5, 5)


def test_tail_with_enough_samples():
    vals = [float(v) for v in range(1, 41)]  # 40 samples -> p75 = 30
    t = tail(vals)
    assert (t.pct, t.value, t.n) == (75, 30.0, 40)


def test_median_rejects_no_samples():
    with pytest.raises(ValueError):
        median([])
    assert median([1.0, 3.0]) == 2.0


def test_self_time_without_children_is_the_duration():
    assert self_time(1.0, 4.0, []) == pytest.approx(3.0)


def test_self_time_subtracts_the_union_of_children():
    # children [1,2] and [1.5,3] overlap: union [1,3] covers 2 of 5 s
    assert self_time(0.0, 5.0, [(1.0, 2.0), (1.5, 3.0)]) == pytest.approx(3.0)
    # disjoint children
    assert self_time(0.0, 5.0, [(0.0, 1.0), (4.0, 5.0)]) == pytest.approx(3.0)


def test_self_time_clips_children_to_the_parent():
    assert self_time(1.0, 3.0, [(0.0, 2.0), (2.5, 9.0)]) == pytest.approx(0.5)
    assert self_time(1.0, 3.0, [(5.0, 6.0)]) == pytest.approx(2.0)


def test_core_busy_frac():
    # 46 tasks that ran 0.1 s each over 2 s on 4 cores
    assert core_busy_frac(4.6, 2.0, 4) == pytest.approx(0.575)
    assert core_busy_frac(8.0, 2.0, 4) == pytest.approx(1.0)
    with pytest.raises(ValueError):
        core_busy_frac(1.0, 0.0, 4)


def test_failure_counting():
    o = Outcomes()
    assert o.failed_frac == 0.0
    for ok in (True, False, True, True):
        o.record(ok)
    assert (o.attempted, o.failed) == (4, 1)
    assert o.failed_frac == pytest.approx(0.25)


def _pass(wall_s, *ops):
    return NS(wall_s=wall_s, ops=[NS(name=n, latency_s=s, ok=ok) for n, s, ok in ops])


def test_pass_samples_split_job_from_operations():
    p = _pass(3.0, ("etl_job", 2.0, True), ("q1", 0.25, True), ("q2", 0.5, True))
    assert pass_samples([p], "etl_job") == ([2.0], [0.25, 0.5])
    # without a job op the pass wall is the job and every op an operation
    assert pass_samples([p]) == ([3.0], [2.0, 0.25, 0.5])


def test_a_pass_whose_job_failed_still_reports_and_counts_the_failure():
    # the ETL job raised, so the pass ran no read statements after it
    failed = _pass(1.5, ("etl_job", 1.5, False))
    jobs, ops = pass_samples([failed], "etl_job")
    assert jobs == ops == [1.5]
    t = tail(ops)
    assert (t.pct, t.value, t.n) == (100, 1.5, 1)
    o = Outcomes()
    for op in failed.ops:
        o.record(op.ok)
    assert (o.attempted, o.failed, o.failed_frac) == (1, 1, 1.0)
