"""In-memory spans for the traced benchmark run.

A span has a name, start, end, parent span and operation id. Spans are
kept in memory and written out once the run ends; a layer's self time
is its span's duration minus the part its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent: int | None
    op: int
    name: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; otherwise ``span()`` is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = -1
        self._stack: list[int] = []

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), parent, self.op, name, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span.span_id)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()

    def per_op(self, op: int) -> dict[str, tuple[float, float]]:
        """name -> (summed duration, summed self time) within one op."""
        spans = [s for s in self.spans if s.op == op]
        child_time: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.duration
        out: dict[str, tuple[float, float]] = {}
        for s in spans:
            total, self_t = out.get(s.name, (0.0, 0.0))
            out[s.name] = (
                total + s.duration,
                self_t + s.duration - child_time.get(s.span_id, 0.0),
            )
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
