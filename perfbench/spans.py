"""In-memory spans around the benchmark's calls into the engine.

A span has a name, start and end (epoch seconds, the clock Spark
stamps its jobs with), parent and the run id. Spans are kept in
a list and written as JSON when the run ends. Nothing is recorded while
the tracer is disabled, so an untraced pass pays one attribute check
per call.

The layer of a span is the first dotted part of its name (``graph`` in
``graph.simple_count``); a layer's self time is its spans' durations
minus the parts their child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from status import covered_seconds


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    attrs: dict


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(len(self.spans), name, time.time(), 0.0,
                  self._stack[-1] if self._stack else None, self.run_id,
                  attrs)
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the union of its
    children's intervals inside it."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: (s.end - s.start)
            - covered_seconds(kids.get(s.id, []), s.start, s.end)
            for s in spans}


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer (first dotted part of the span name)."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        layer = s.name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + own[s.id]
    return out


def descendants(spans: list[Span], root: int) -> list[Span]:
    """``root`` and every span under it (spans are stored parent first)."""
    inside = {root}
    out = []
    for s in spans:
        if s.id in inside or s.parent in inside:
            inside.add(s.id)
            out.append(s)
    return out
