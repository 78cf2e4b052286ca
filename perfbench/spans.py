"""Spans recorded around library calls, and their self-time arithmetic.

A span has a name, start, end, parent and batch id.  Spans are kept in
memory and handed back when the run ends.  Wrappers are installed by
replacing a module or class attribute, so the library itself is unchanged;
:meth:`Tracer.close` puts every original back.
"""

from __future__ import annotations

import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int      # index into the span list, -1 for a root
    batch: int


class Tracer:
    """Spans and counters of one process; ``batch`` tags new spans."""

    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.batch = -1
        self._stack: list[int] = []
        self._undo: list = []

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span called ``name``; returns its result."""
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self.batch))
        self._stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, owner, attr: str, name, after=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper.

        ``name`` is the span name, or a function of the call's arguments
        returning it.  ``after(result, args, kwargs)`` runs on each result
        to record counts."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            span = name(*args, **kwargs) if callable(name) else name
            result = self.call(span, orig, *args, **kwargs)
            if after is not None:
                after(result, args, kwargs)
            return result

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def close(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent >= 0:
            kids.setdefault(s.parent, []).append(s)
    out = []
    for k, s in enumerate(spans):
        covered, hi = 0.0, s.start
        for c in sorted(kids.get(k, ()), key=lambda c: c.start):
            lo, end = max(c.start, hi), min(c.end, s.end)
            if end > lo:
                covered += end - lo
                hi = end
        out.append((s.end - s.start) - covered)
    return out


def totals(spans: list[Span], min_batch: int = -1
           ) -> dict[str, dict[str, float]]:
    """Per span name, over spans of batch ``min_batch`` or later: summed
    duration, summed self time, call count and the longest single call."""
    agg: dict[str, dict[str, float]] = {}
    for s, st in zip(spans, self_times(spans)):
        if s.batch < min_batch:
            continue
        a = agg.setdefault(s.name, {"total": 0.0, "self": 0.0, "calls": 0,
                                    "max": 0.0})
        dur = s.end - s.start
        a["total"] += dur
        a["self"] += st
        a["calls"] += 1
        a["max"] = max(a["max"], dur)
    return agg
