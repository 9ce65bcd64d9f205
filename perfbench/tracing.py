"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, start and end (``time.perf_counter`` seconds), the
id of the span open around it, and the run id shared by every span of
one run.  Spans stay in memory until the run ends; ``self_time`` is a
span's duration minus the part its direct children cover.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    run_id: str
    spans: list[Span] = field(default_factory=list)
    _open: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self._open[-1] if self._open else None,
                 self.run_id, time.perf_counter())
        self.spans.append(s)
        self._open.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def self_time(self, span: Span) -> float:
        children = sum(c.seconds for c in self.spans if c.parent == span.id)
        return span.seconds - children

    def seconds(self, name: str) -> float:
        """Total duration of every span with this name."""
        return sum(s.seconds for s in self.spans if s.name == name)

    def export(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "run_id": s.run_id,
             "start": round(s.start, 6), "end": round(s.end, 6),
             "self_s": round(self.self_time(s), 6)}
            for s in self.spans
        ]
