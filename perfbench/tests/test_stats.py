import math

import pytest

from perfbench import stats


def test_tail_takes_highest_percentile_with_ten_beyond():
    assert stats.tail(list(range(1, 1001))) == {"value": 990.0, "pct": 99, "beyond": 10, "n": 1000}
    assert stats.tail(list(range(1, 101))) == {"value": 90.0, "pct": 90, "beyond": 10, "n": 100}
    # 99 samples: p90 has only 9 beyond it, so the tail falls back to p75
    assert stats.tail(list(range(1, 100))) == {"value": 75.0, "pct": 75, "beyond": 24, "n": 99}


def test_tail_too_few_samples_reports_max_and_no_percentile():
    got = stats.tail([float(x) for x in range(15)])
    assert got == {"value": 14.0, "pct": None, "beyond": 0, "n": 15}


def test_percentile_nearest_rank():
    assert stats.percentile([3, 1, 2], 50) == 2
    assert stats.percentile([5], 99) == 5
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_geomean():
    assert stats.geomean([1, 4]) == pytest.approx(2.0)
    assert stats.geomean([2, 8, 4]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


def test_geomean_of_kind_medians_ignores_order():
    a = [("q1", 1.0), ("q2", 4.0), ("q1", 3.0), ("q2", 4.0)]
    assert stats.kind_medians(a) == {"q1": 2.0, "q2": 4.0}
    assert stats.geomean(stats.kind_medians(a).values()) == pytest.approx(math.sqrt(8))
    assert stats.kind_medians(list(reversed(a))) == stats.kind_medians(a)


def test_failed_frac():
    assert stats.failed_frac(0, 35) == 0.0
    assert stats.failed_frac(1, 4) == 0.25
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(5, 4)


def test_drift_ratio():
    steady = [("a", 1.0), ("b", 3.0)] * 4
    assert stats.drift_ratio(steady) == pytest.approx(1.0)
    falling = [("a", 2.0), ("a", 1.5), ("a", 1.0), ("a", 1.0)]
    assert stats.drift_ratio(falling) > 1.0
    assert stats.drift_ratio([("a", 1.0)]) == 1.0


def test_covered_merges_overlaps_and_clips():
    assert stats.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert stats.covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert stats.covered([], 0, 10) == 0
