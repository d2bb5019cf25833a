"""One driver for the iterative operators: the round count, the cap
and the refusal to return a partial answer live here, once."""

from __future__ import annotations

from typing import Callable, TypeVar

S = TypeVar("S")

#: rounds taken by the most recent run of each named loop
last_rounds: dict[str, int] = {}


def fixpoint(
    name: str,
    state: S,
    step: Callable[[S], S],
    *,
    max_rounds: int,
    done: Callable[[S, S], bool] | None = None,
) -> tuple[S, int]:
    """Run ``nxt = step(state)`` for up to ``max_rounds`` rounds.  With
    ``done``, return ``(nxt, r)`` at the first round ``r`` where
    ``done(state, nxt)`` holds, and raise if none does: a loop stopped
    at its cap would return a partial answer (split clusters, missing
    distances) with no error anywhere.  Without ``done``, run all the
    rounds.  ``last_rounds[name]`` records the rounds run."""
    for r in range(1, max_rounds + 1):
        nxt = step(state)
        if done is not None and done(state, nxt):
            last_rounds[name] = r
            return nxt, r
        state = nxt
    last_rounds[name] = max_rounds
    if done is not None:
        raise RuntimeError(
            f"{name} did not converge to a fixpoint in {max_rounds} "
            f"rounds; refusing to return a partial answer"
        )
    return state, max_rounds
