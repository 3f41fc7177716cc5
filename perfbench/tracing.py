"""Spans recorded by the benchmark around its calls into each layer.

Every timed call goes through ``Tracer.span``: the span keeps name, start,
end, parent and the query or operation id in memory. With tracing on, the
span also becomes the Spark job description for every job the call starts
(``pb|<span id>|<name>``), so the event-log parser can attribute task
metrics back to the span, and the spans are written out once at the end.
With tracing off the span is only a pair of clock reads.

A span's layer is the part of its name before the first dot. A layer's
self time is the duration of its spans minus the part their child spans
cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

DESC_PREFIX = "pb"
# Spans that only group the benchmark's own phases; their self time is the
# benchmark's glue code, not a layer of the program.
PHASES = ("run", "setup", "measure", "check")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str | None
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self.overhead_s = 0.0  # time spent setting job descriptions

    def attach(self, spark_context) -> None:
        """Start labelling Spark jobs (tracing on only)."""
        if self.enabled:
            self._sc = spark_context
            if self._stack:
                self._describe(self._stack[-1])

    def detach(self) -> None:
        self._sc = None

    def _describe(self, span: Span | None) -> None:
        if self._sc is None:
            return
        t = time.perf_counter()
        desc = None if span is None else f"{DESC_PREFIX}|{span.id}|{span.name}"
        self._sc.setJobDescription(desc)
        self.overhead_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, op, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._describe(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._describe(parent)

    def durations(self, name: str) -> list[float]:
        """Durations in seconds of the spans called ``name``."""
        return [s.dur for s in self.spans if s.name == name]

    def in_phase(self, span: Span, phase: str) -> bool:
        """Whether ``span`` lies inside a span called ``phase``."""
        p = span.parent
        while p is not None:
            if self.spans[p].name == phase:
                return True
            p = self.spans[p].parent
        return False

    def self_times(self) -> dict[str, float]:
        """Self time per layer, in seconds."""
        child_cover = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_cover[s.parent] += s.dur
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.dur - child_cover[s.id]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
