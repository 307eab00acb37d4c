"""In-memory spans and counters recorded around calls into each layer.

A span has a name, a start, an end, a parent span and a request id. Spans
are kept in a list and written out once, at exit. Spark functions are
lazy: a span around a function that builds a plan measures planning
only; execution lands in the span of whichever action (collect, count,
write) runs it.

With tracing off, ``span`` is a no-op context manager and counters are
not recorded, so the untraced run pays nothing but a function call.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._request: str | None = None
        self._null = nullcontext()

    def request(self, request_id: str | None) -> None:
        """Tag the spans that follow with ``request_id``."""
        self._request = request_id

    def span(self, name: str):
        return self._span(name) if self.enabled else self._null

    @contextmanager
    def _span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self._request)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] += value

    def gauge(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = value

    # ------------------------------------------------------------ results
    def aggregate(self, keep=lambda s: True) -> tuple[dict[str, float], dict[str, float]]:
        """(total, self) seconds per span name over the kept spans. Self
        time is a span's duration minus the time its children cover
        (children never overlap in this single-threaded recorder, so
        their durations add)."""
        kept = [s for s in self.spans if keep(s)]
        child: dict[int, float] = defaultdict(float)
        for s in kept:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        total: dict[str, float] = defaultdict(float)
        self_t: dict[str, float] = defaultdict(float)
        for s in kept:
            total[s.name] += s.end - s.start
            self_t[s.name] += s.end - s.start - child[s.id]
        return dict(total), dict(self_t)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], "counts": dict(self.counts)}, f)
