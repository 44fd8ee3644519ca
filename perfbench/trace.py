"""In-memory spans for the traced run.

Each span records name, start, end, parent span and operation id.  The
root span of an operation is the operation itself; its children are the
calls into the package's layers.  Nothing is written until ``dump``.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    op_id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0
        self._t0 = time.perf_counter()

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    @contextlib.contextmanager
    def span(self, name: str, op_id: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if op_id is None:
            op_id = parent.op_id if parent else self.new_op()
        s = Span(
            span_id=len(self.spans) + 1,
            op_id=op_id,
            name=name,
            parent=parent.span_id if parent else None,
            start=time.perf_counter() - self._t0,
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self._t0
            self._stack.pop()

    def self_time(self, span: Span) -> float:
        """Duration minus the time covered by direct children."""
        kids = [s for s in self.spans if s.parent == span.span_id]
        return span.duration - sum(k.duration for k in kids)

    def dump(self) -> list[dict]:
        return [
            {**asdict(s), "self_s": self.self_time(s)} for s in self.spans
        ]
