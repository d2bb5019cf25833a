"""The shared round driver on integer states — no Spark session."""

from __future__ import annotations

import pytest

from mapreduceplusplus_spark import fixpoint as fp


def _counting_step(calls: list[int]):
    def step(x: int) -> int:
        calls.append(x)
        return x + 1

    return step


def test_done_never_holding_raises_naming_operator_and_cap():
    calls: list[int] = []
    with pytest.raises(RuntimeError, match=r"my_loop .*\b7 rounds"):
        fp.fixpoint(
            "my_loop", 0, _counting_step(calls), max_rounds=7,
            done=lambda old, new: False,
        )
    assert calls == list(range(7))


@pytest.mark.parametrize("cap", [0, 1, 5])
def test_without_done_runs_exactly_max_rounds(cap):
    calls: list[int] = []
    state, rounds = fp.fixpoint(
        "fixed", 10, _counting_step(calls), max_rounds=cap
    )
    assert calls == list(range(10, 10 + cap))
    assert (state, rounds) == (10 + cap, cap)
    assert fp.last_rounds["fixed"] == cap


def test_returns_first_round_where_done_holds():
    calls: list[int] = []
    seen: list[tuple[int, int]] = []

    def done(old: int, new: int) -> bool:
        seen.append((old, new))
        return new >= 3

    state, rounds = fp.fixpoint(
        "to_three", 0, _counting_step(calls), max_rounds=10, done=done
    )
    assert (state, rounds) == (3, 3)
    assert seen == [(0, 1), (1, 2), (2, 3)]
    assert calls == [0, 1, 2]
    assert fp.last_rounds["to_three"] == 3
