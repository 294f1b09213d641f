"""The tail rule: the highest percentile with at least 10 samples beyond."""

import pytest

from vdbbench import stats


def test_tail_leaves_ten_samples_above_it():
    xs = list(range(1, 101))  # 100 samples
    pct, value = stats.tail(xs)
    assert (pct, value) == (90.0, 90)
    assert sum(x > value for x in xs) == 10


@pytest.mark.parametrize("n", [11, 25, 37, 200])
def test_tail_rank_for_any_count(n):
    xs = [float(i) for i in range(n)][::-1]  # unsorted input
    pct, value = stats.tail(xs)
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_falls_back_to_the_median_with_ten_or_fewer():
    assert stats.tail([5, 1, 3]) == (50.0, 3)
    assert stats.tail(range(10)) == (50.0, 4.5)
    with pytest.raises(ValueError):
        stats.tail([])


def test_geomean_and_spread():
    assert stats.geomean([2, 8]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1, 0])
    assert stats.spread([10.0] * 5) == 0.0
    assert stats.spread(range(1, 11)) > 0
