"""In-memory span tracing for the traced benchmark run.

A span records a name, start, end, its parent span and the id of the
operation it belongs to.  Spans are kept in a list while the run goes and
written out once when it ends, so tracing adds no I/O to the measured
region.  With tracing off, :meth:`Tracer.span` is a no-op context manager.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_id = 0
        self._op: int | None = None
        self._next_op = 0

    @contextmanager
    def op(self, name: str, **attrs):
        """A span that starts a new operation: it and every span opened
        inside it share one operation id."""
        if not self.enabled:
            yield
            return
        outer, self._op = self._op, self._next_op
        self._next_op += 1
        try:
            with self.span(name, **attrs):
                yield
        finally:
            self._op = outer

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, name, start, end, parent, self._op, attrs))

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the part of it its children cover
        (children of one span never overlap: the harness is one thread)."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] = covered.get(s.parent, 0.0) + (s.end - s.start)
        return {s.id: (s.end - s.start) - covered.get(s.id, 0.0) for s in self.spans}

    def summary(self) -> dict[str, dict]:
        """Per span name: count, total seconds and self seconds."""
        own = self.self_times()
        out: dict[str, dict] = {}
        for s in self.spans:
            row = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += s.end - s.start
            row["self_s"] += own[s.id]
        return out

    def dump(self, path: str, extra: dict) -> None:
        own = self.self_times()
        spans = [{**asdict(s), "self": own[s.id]} for s in sorted(self.spans, key=lambda s: s.start)]
        with open(path, "w") as f:
            json.dump({"spans": spans, "summary": self.summary(), **extra}, f, indent=1, default=str)
