"""Order statistics and span arithmetic for the benchmark."""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is its own quartiles."""
    if not values:
        raise ValueError("quartiles of an empty sample")
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


class Tracer:
    """In-memory span recorder. Spans nest by a stack of open spans; a
    span may also be added after the fact with explicit times (the
    pipeline's own step records)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._open[-1] if self._open else None
        sp = Span(len(self.spans), name, time.time(), float("nan"), parent,
                  attrs)
        self.spans.append(sp)
        self._open.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._open.pop()

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> Span:
        sp = Span(len(self.spans), name, start, end, parent, attrs)
        self.spans.append(sp)
        return sp

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        """Duration of ``sp`` not covered by any of its children."""
        kids = [(c.start, c.end) for c in self.children(sp)]
        return sp.dur - covered(kids, sp.start, sp.end)

    def enclosing(self, t: float, name: str) -> Span | None:
        """The innermost span called ``name`` open at time ``t``."""
        best = None
        for sp in self.spans:
            if sp.name == name and sp.start <= t <= sp.end:
                if best is None or sp.start >= best.start:
                    best = sp
        return best

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
