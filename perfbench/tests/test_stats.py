"""The tail rule: the highest percentile with ten units beyond it."""

import statistics

import pytest

from perfbench.stats import quantile, spread, tail, tail_level


def test_tail_level():
    assert tail_level(1000) == pytest.approx(0.99)
    assert tail_level(100) == pytest.approx(0.90)
    assert tail_level(40) == pytest.approx(0.75)
    # fewer than 20 units support no level above the median
    assert tail_level(20) == 0.5
    assert tail_level(11) == 0.5
    assert tail_level(3) == 0.5
    with pytest.raises(ValueError):
        tail_level(0)


def test_tail_counts_units_not_values():
    # 40 micro-batches of 10 blocks each: the blocks of one batch share a
    # commit, so the tail level follows the 40 batches, not the 400 blocks
    values = [float(v) for v in range(400)]
    by_values, level_v = tail(values)
    by_batches, level_b = tail(values, units=40)
    assert level_v == pytest.approx(0.975)
    assert level_b == pytest.approx(0.75)
    assert by_batches == pytest.approx(quantile(values, 0.75))
    assert by_batches < by_values


def test_quantile_interpolates():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert quantile(xs, 0.0) == 1.0
    assert quantile(xs, 1.0) == 5.0
    assert quantile(xs, 0.5) == statistics.median(xs)
    assert quantile(xs, 0.625) == pytest.approx(3.5)
    with pytest.raises(ValueError):
        quantile([], 0.5)


def test_spread_is_iqr_over_median():
    values = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert spread(values) == pytest.approx((q3 - q1) / q2)
