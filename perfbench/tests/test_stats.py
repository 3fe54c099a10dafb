"""Unit tests for the benchmark's pure logic.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    assert stats.geomean([0.5, 8.0, 1.0]) == pytest.approx(math.exp((math.log(0.5) + math.log(8.0)) / 3))
    with pytest.raises(ValueError):
        stats.geomean([])
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 41)]  # 1..40
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (30.0, 75.0, 40)
    assert sum(1 for x in xs if x > value) == 10


def test_tail_ignores_input_order_and_counts_ties_by_rank():
    xs = [5.0] * 15 + [1.0] * 5
    value, pct, n = stats.tail(list(reversed(xs)))
    assert (value, pct, n) == (5.0, 50.0, 20)


def test_tail_with_too_few_samples_is_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert stats.tail([float(i) for i in range(10)]) == (9.0, 100.0, 10)
    assert stats.tail([float(i) for i in range(11)]) == (0.0, 100.0 / 11, 11)
    with pytest.raises(ValueError):
        stats.tail([])


def test_failed_frac():
    assert stats.failed_frac(0, 0, 35) == 0.0
    assert stats.failed_frac(1, 2, 30) == pytest.approx(0.1)
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0, 0)


def span(start, end):
    return {"start": start, "end": end}


def test_self_time_without_children():
    assert stats.self_time(span(0.0, 2.0), []) == pytest.approx(2.0)


def test_self_time_with_disjoint_children():
    kids = [span(1.0, 2.0), span(3.0, 4.5)]
    assert stats.self_time(span(0.0, 10.0), kids) == pytest.approx(7.5)


def test_self_time_with_overlapping_children_counts_the_union():
    # two concurrent readers covering [1, 4] together, one nested in another
    kids = [span(1.0, 3.0), span(2.0, 4.0), span(2.5, 2.7)]
    assert stats.self_time(span(0.0, 5.0), kids) == pytest.approx(2.0)


def test_self_time_clips_children_to_the_parent():
    kids = [span(-1.0, 1.0), span(4.0, 9.0), span(6.0, 7.0)]
    assert stats.self_time(span(0.0, 5.0), kids) == pytest.approx(3.0)


def test_pass_order_is_a_permutation_fixed_by_seed_and_pass():
    names = [f"q{i}" for i in range(8)]
    a = stats.pass_order(names, 7, 0)
    assert sorted(a) == sorted(names)
    assert a == stats.pass_order(names, 7, 0)
    assert names == [f"q{i}" for i in range(8)]  # input untouched


def test_pass_order_differs_across_seeds_and_passes():
    names = [f"q{i}" for i in range(8)]
    by_seed = {tuple(stats.pass_order(names, s, 0)) for s in range(20)}
    assert len(by_seed) == 20
    by_pass = {tuple(stats.pass_order(names, 7, p)) for p in range(20)}
    assert len(by_pass) == 20



def test_end_to_end_takes_fastest_warm_samples_and_survives_none():
    import run

    def p(wall, **times):
        return {"wall": wall, "times": times}

    res = {"jvm_peak_rss_mb": 1.0, "passes": [
        p(9.0, a=6.0, b=3.0), p(5.0, a=2.0, b=3.0), p(4.0, a=3.0, b=1.0), p(6.0, a=4.0)]}
    m, _ = run.end_to_end([2.0, 4.0], res)
    assert (m["setup_s"], m["cold_pass_s"], m["warm_pass_s"]) == (3.0, 9.0, 4.0)
    assert m["query_geomean_s"] == pytest.approx(math.sqrt(2.0 * 1.0))

    # no warm pass, or every warm execution failed: no value, no crash
    for passes in ([p(9.0, a=6.0)], [p(9.0, a=6.0), p(1.0)]):
        m, ctx = run.end_to_end([2.0], {"jvm_peak_rss_mb": 1.0, "passes": passes})
        assert m["query_geomean_s"] is None and m["query_tail_s"] is None
        assert ctx["samples"] == 0
