"""The tail-percentile rule: a percentile needs ten samples beyond it."""

import pytest

from perfbench import stats


def test_p95_needs_200_samples():
    assert stats.tail(list(range(200)), 95) == pytest.approx(189.05)
    with pytest.raises(ValueError):
        stats.tail(list(range(199)), 95)


def test_tail_percentile_keeps_ten_beyond():
    assert stats.tail_percentile(9) == 0
    assert stats.tail_percentile(40) == 75
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(200) == 95
    for n in range(10, 500):
        q = stats.tail_percentile(n)
        assert n * (100 - q) / 100 >= stats.MIN_BEYOND


def test_percentile_interpolates():
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert stats.percentile([5.0], 95) == 5.0
