"""Tail-percentile selection."""

from perfbench.stats import tail


def test_no_tail_without_ten_samples_above_the_median():
    assert tail([1.0] * 10) is None
    assert tail([float(i) for i in range(21)]) is None


def test_tail_is_the_highest_rank_with_ten_samples_beyond():
    xs = [float(i) for i in range(40)]
    value, pct = tail(list(reversed(xs)))
    assert value == 29.0  # ten samples (30..39) lie above it
    assert pct == 75.0


def test_tail_percentile_grows_with_the_sample_count():
    value, pct = tail([float(i) for i in range(100)])
    assert (value, pct) == (89.0, 90.0)
