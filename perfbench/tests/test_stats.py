"""Pins the benchmark's order statistics."""

import statistics

import pytest

from perfbench import stats


def test_median_even_count_is_mean_of_middle_pair():
    # the upper-middle "median" returns 2.0 here, i.e. the maximum of two
    assert stats.median([1.0, 2.0]) == 1.5
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_median_odd_count_and_order_independence():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([5.0]) == 5.0


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.median([])


@pytest.mark.parametrize(
    "values",
    [[1.0, 2.0], [3.0, 1.0, 2.0], [1.0, 2.0, 3.0, 4.0], [10.0, 12.5, 9.0, 11.0, 30.0, 10.5, 9.5, 10.2, 10.1, 9.9]],
)
def test_quartiles_match_statistics_quantiles(values):
    q = statistics.quantiles(values, n=4)
    assert stats.quartiles(values) == (q[0], q[2])


def test_relative_spread():
    values = [10.0, 12.5, 9.0, 11.0, 30.0, 10.5, 9.5, 10.2, 10.1, 9.9]
    q = statistics.quantiles(values, n=4)
    assert stats.relative_spread(values) == pytest.approx((q[2] - q[0]) / statistics.median(values))


def test_percentile_interpolates():
    assert stats.percentile([0.0, 10.0], 50) == 5.0
    assert stats.percentile(list(range(101)), 95) == 95.0


@pytest.mark.parametrize(
    "n,expected",
    [(19, None), (20, 50.0), (40, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    got = stats.tail_percentile([float(i) for i in range(n)])
    assert (got[0] if got else None) == expected
    if got:
        assert stats.samples_beyond(n, got[0]) >= 10
