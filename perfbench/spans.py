"""In-memory spans around the package's public calls, one Spark job group each.

``Tracer`` opens a span, sets a job group unique to that span instance on the
driver thread, and restores the enclosing span's group when it closes. Spans
stay in memory; ``eventlog.span_metrics`` joins them with the event log once
the session has stopped. ``NullTracer`` has the same interface and does
nothing, so untraced runs execute the same workload code.
"""

from __future__ import annotations

import contextlib
import time
from collections.abc import Iterator

from eventlog import Span


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def open(self, name: str) -> None:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, f"{name}#{len(self.spans)}", time.time(), 0.0, parent))
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(self.spans[-1].group, name)

    def close(self, name: str) -> None:
        sp = self.spans[self._stack.pop()]
        if sp.name != name:
            raise RuntimeError(f"span {name!r} closed while {sp.name!r} is innermost")
        sp.end = time.time()
        group = self.spans[self._stack[-1]].group if self._stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        self.open(name)
        try:
            yield
        finally:
            self.close(name)


class NullTracer:
    def span(self, name: str) -> contextlib.AbstractContextManager:
        return contextlib.nullcontext()

