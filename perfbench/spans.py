"""In-memory span recorder for the traced run.

A span is one call into a layer, timed from the benchmark's side of
the call: name, layer, start, end, the span that caused it, and the
id of the operation (query run, sweep point or rig) it belongs to.
Spans stay in memory until ``write`` dumps them as JSON when the run
finishes.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    trace: str
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Recorder:
    """Collects spans from any thread. ``enabled=False`` records
    nothing, so the untraced passes pay only a branch per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def add(
        self,
        trace: str,
        parent: int | None,
        name: str,
        layer: str,
        start: float,
        end: float,
        **attrs,
    ) -> Span | None:
        """Record a span whose interval is already known, such as a
        Spark job read back from the status store."""
        if not self.enabled:
            return None
        with self._lock:
            s = Span(next(self._ids), trace, parent, name, layer, start, end, attrs)
            self.spans.append(s)
        return s

    @contextmanager
    def span(self, trace: str, parent: int | None, name: str, layer: str, **attrs):
        """Time the body as one span; yields the span (None when off)."""
        if not self.enabled:
            yield None
            return
        s = self.add(trace, parent, name, layer, time.time(), 0.0, **attrs)
        try:
            yield s
        finally:
            s.end = time.time()

    def children(self, parent: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == parent.id]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
