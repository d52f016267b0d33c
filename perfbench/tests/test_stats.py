import pytest

from perfbench import stats


def test_percentile_interpolates_like_numpy():
    xs = [1.0, 2.0, 3.0, 4.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 25) == pytest.approx(1.75)
    assert stats.percentile([5.0, 1.0, 3.0], 50) == 3.0  # order-free


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


def test_samples_beyond():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(99, 90) == 10  # ranks 89..98 lie above 88.2
    assert stats.samples_beyond(90, 90) == 9
    assert stats.samples_beyond(21, 50) == 10
    assert stats.samples_beyond(1, 50) == 0


def test_tail_needs_ten_samples_beyond():
    assert not stats.supports(90, 90)
    assert stats.supports(100, 90)
    assert not stats.supports(19, 50)
    assert stats.supports(21, 50)


def test_highest_supported_percentile():
    assert stats.highest_supported_percentile(10) is None
    assert stats.highest_supported_percentile(11) == 9
    assert stats.highest_supported_percentile(21) == 54
    assert stats.highest_supported_percentile(100) == 90
    assert stats.highest_supported_percentile(1000) == 99
