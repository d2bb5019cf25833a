"""In-memory span tree, written out once when the run ends.

The tree is run -> pass -> execution -> {build, action} -> Spark job.
Times are wall-clock seconds since the epoch, so Spark job spans, whose
submission and completion times come from the JVM's status store, share
a clock with the spans the benchmark opens itself.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import time


@dataclasses.dataclass
class Span:
    id: int
    parent: int | None
    kind: str  # run | setup | pass | execution | build | action | job
    name: str
    start: float
    end: float = 0.0
    attrs: dict = dataclasses.field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    return span.duration - covered(
        [(c.start, c.end) for c in children], span.start, span.end
    )


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    @contextlib.contextmanager
    def span(self, kind: str, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = self.add(kind, name, time.time(), 0.0, parent=self.current, **attrs)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def add(self, kind: str, name: str, start: float, end: float, parent=None, **attrs) -> Span:
        s = Span(len(self.spans), parent, kind, name, start, end, dict(attrs))
        self.spans.append(s)
        return s

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dataclasses.asdict(s)) + "\n")
