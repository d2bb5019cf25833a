import math
import statistics

import pytest

from perfbench import stats


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 20) == 1.0
    assert stats.percentile(xs, 21) == 2.0
    assert stats.percentile(xs, 100) == 5.0


@pytest.mark.parametrize(
    "n, p",
    [(100, 90), (120, 91), (200, 95), (400, 97), (1000, 99), (5000, 99)],
)
def test_tail_is_highest_percentile_with_ten_samples_above(n, p):
    xs = [float(i) for i in range(n)]
    got_p, value, above = stats.tail(xs)
    assert got_p == p
    assert above >= 10
    assert above == sum(1 for x in xs if x > value)
    if p < 99:
        # one percentile higher would leave fewer than ten above it
        nxt = stats.percentile(xs, p + 1)
        assert sum(1 for x in xs if x > nxt) < 10


@pytest.mark.parametrize("n", [0, 1, 7, 20, 25, 60, 99])
def test_tail_is_unavailable_below_one_hundred_samples(n):
    assert stats.min_tail_samples() == 100
    assert stats.tail([float(i) for i in range(n)]) is None


@pytest.mark.parametrize("n", range(100, 260))
def test_tail_is_never_below_the_median(n):
    xs = [float((i * 37) % n) for i in range(n)]
    _, value, _ = stats.tail(xs)
    assert value >= statistics.median(xs)


def test_tail_counts_ties_only_strictly_above():
    xs = [1.0] * 150 + [2.0] * 10
    p, value, above = stats.tail(xs)
    assert value == 1.0 and above == 10
    assert p == math.floor(100 * 150 / 160)
