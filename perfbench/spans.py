"""In-memory spans for the traced run.

Each catalog call is a root span; its children are the layers the
benchmark calls into (``build``, ``plan``, ``exec``) and one span per
streaming progress event.  Spans are kept in a list and written out
once, when the run ends.  A span's self time is its duration minus the
part of its interval that its children cover.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, parent: Span | None, start: float, end: float, **attrs) -> Span:
        span = Span(len(self.spans), parent.id if parent else None, name, start, end, attrs)
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, parent: Span | None = None, **attrs):
        """A span around the ``with`` body; it ends even if the body raises."""
        span = self.add(name, parent, time.perf_counter(), 0.0, **attrs)
        try:
            yield span
        finally:
            span.end = time.perf_counter()

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def _covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` clipped to ``[start, end]``."""
    total, reach = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, end)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - _covered(s.start, s.end, children.get(s.id, []))
        for s in spans
    }


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Sum of self time per span name (per layer)."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + own[s.id]
    return out
