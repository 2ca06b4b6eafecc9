import statistics

import pytest

from stats import RunTooShort, summary, tail


def test_tail_leaves_ten_samples_beyond():
    samples = [float(i) for i in range(40)]
    value, pct, n = tail(samples)
    assert n == 40 and pct == 75
    assert value == 29.0
    assert sum(s > value for s in samples) == 10


def test_short_runs_leave_a_quarter_of_the_samples_beyond():
    value, pct, n = tail([float(i) for i in range(12)])
    assert (value, pct, n) == (8.0, 75, 12)
    value, pct, n = tail([float(i) for i in range(100)])
    assert (value, pct, n) == (89.0, 90, 100)


def test_tail_ignores_sample_order():
    samples = [float((7 * i) % 30) for i in range(30)]
    assert samples != sorted(samples)
    assert tail(samples) == tail(sorted(samples)) == (22.0, 76, 30)


def test_tail_with_too_few_samples_is_an_error():
    with pytest.raises(RunTooShort):
        tail([1.0, 2.0, 3.0])


def test_tail_at_or_below_the_median_is_an_error():
    # the upper half ties: the tail would be the median itself
    samples = [1.0, 2.0, 3.0, 4.0] + [5.0] * 8
    assert sorted(samples)[-4] == statistics.median(samples)
    with pytest.raises(RunTooShort):
        tail(samples)


def test_tail_of_identical_samples_is_an_error():
    with pytest.raises(RunTooShort):
        tail([1.0] * 40)


def test_summary_uses_statistics_quantiles():
    values = [1.0, 2.0, 3.0, 4.0, 10.0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    s = summary(values)
    assert (s["q1"], s["median"], s["q3"]) == (q1, q2, q3)
    assert s["iqr_share"] == pytest.approx((q3 - q1) / q2)
    assert (s["min"], s["max"]) == (1.0, 10.0)
