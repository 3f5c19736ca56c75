"""In-memory spans for the traced run.

A span is (name, start, end, parent, op): `parent` is the index of the
enclosing span, `op` the operation it belongs to.  The layer of a span
is its name up to the first dot (`catalyst.plan` is in `catalyst`).
A span's self time is its duration minus the durations of its children,
so the self times of an operation's spans add up to its wall time.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int
    op: int


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int):
        parent = self._stack[-1] if self._stack else -1
        s = Span(name, time.perf_counter(), 0.0, parent, op)
        self._stack.append(len(self.spans))
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, dict[str, float]]:
        """op -> layer -> self seconds.  The root span of an operation is
        named `op`; its self time is the harness's own share."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent >= 0:
                child[s.parent] += s.end - s.start
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s, c in zip(self.spans, child):
            out[s.op][s.name.split(".")[0]] += s.end - s.start - c
        return out

    def durations(self, name: str) -> dict[int, float]:
        """op -> seconds spent in spans called `name`."""
        out: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.name == name:
                out[s.op] += s.end - s.start
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]))
