"""Order statistics the benchmark reports."""

from __future__ import annotations

import math

#: a tail percentile is reported only with at least this many samples above it
TAIL_BEYOND = 10
#: ... and only when it is at least this percentile, so that it is a tail
#: and not the middle of the distribution: 100 samples or more
TAIL_MIN_PERCENTILE = 90


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``%
    of the samples at or below it."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(samples: list[float]) -> tuple[int, float, int] | None:
    """The highest whole percentile that has at least ``TAIL_BEYOND``
    samples strictly above it, as ``(percentile, value, samples_above)``,
    or None when that percentile would be below ``TAIL_MIN_PERCENTILE``.

    With ``n`` samples the nearest-rank ``p``-th percentile leaves
    ``n - ceil(p n / 100)`` samples above it, so the answer is the largest
    ``p`` with ``ceil(p n / 100) <= n - TAIL_BEYOND``.
    """
    n = len(samples)
    xs = sorted(samples)
    p = 99
    while p >= TAIL_MIN_PERCENTILE and math.ceil(p * n / 100.0) > n - TAIL_BEYOND:
        p -= 1
    if p < TAIL_MIN_PERCENTILE:
        return None
    value = percentile(xs, p)
    return p, value, sum(1 for x in xs if x > value)


def min_tail_samples() -> int:
    """The fewest samples for which ``tail`` gives a value."""
    return math.ceil(100 * TAIL_BEYOND / (100 - TAIL_MIN_PERCENTILE))
