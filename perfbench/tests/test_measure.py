import statistics

import pytest

from perfbench.measure import highest_supported, iqr_spread, kind_medians, min_samples, percentile


def test_percentile_matches_statistics_inclusive():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert percentile(xs, 25) == pytest.approx(q1)
    assert percentile(xs, 50) == pytest.approx(q2)
    assert percentile(xs, 75) == pytest.approx(q3)
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 9.0
    assert percentile([7.0], 75) == 7.0


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_kind_medians_one_per_kind():
    samples = [("a", 1.0), ("b", 5.0), ("a", 3.0), ("a", 2.0), ("b", 7.0)]
    assert kind_medians(samples) == {"a": 2.0, "b": 6.0}
    assert kind_medians([]) == {}


def test_sample_count_rule():
    # ten samples must lie beyond the percentile
    assert min_samples(50) == 20
    assert min_samples(75) == 40
    assert min_samples(90) == 100
    assert highest_supported(19) is None
    assert highest_supported(20) == 50
    assert highest_supported(39) == 50
    assert highest_supported(40) == 75
    assert highest_supported(1000) == 99


def test_iqr_spread_uses_statistics_quartiles():
    xs = [10.0, 11.0, 9.0, 10.5, 10.2, 9.8, 10.1, 10.4, 9.9, 10.3]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert iqr_spread(xs) == pytest.approx((q3 - q1) / q2)
