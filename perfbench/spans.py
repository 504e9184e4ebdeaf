"""In-memory spans for the traced benchmark run.

A span records a name, start and end (monotonic seconds since the tracer was
made), its parent span and free-form attributes. Spans of one run share the
tracer's ``trace_id``; they are kept in memory and written out with the run
report when the run ends.
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.trace_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._t0 = time.monotonic()
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(len(self.spans), name, parent, time.monotonic() - self._t0, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.monotonic() - self._t0
            self._stack.pop()

    def to_json(self) -> dict:
        return {"trace_id": self.trace_id, "spans": [asdict(s) for s in self.spans]}
