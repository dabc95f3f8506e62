"""In-memory spans for the traced run.

A span is a name, a start, an end (``time.perf_counter`` seconds) and
the id of the span that caused it.  Spans stay in memory and are
written out once, when the run ends.  A span's self time is its
duration minus the part of it that its children cover."""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        span = Span(len(self.spans), name, start, end, parent)
        self.spans.append(span)
        return span.id

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        span = Span(len(self.spans), name, time.perf_counter(), float("nan"), parent)
        self.spans.append(span)
        try:
            yield span.id
        finally:
            span.end = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Self time of every span, children clipped to their parent."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children[s.id], key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.id] = (s.end - s.start) - covered
        return out

    def table(self) -> list[dict]:
        """Per span name: count, total and self seconds."""
        selfs = self.self_times()
        rows: dict[str, dict] = {}
        for s in self.spans:
            r = rows.setdefault(s.name, {"name": s.name, "count": 0, "total_s": 0.0, "self_s": 0.0})
            r["count"] += 1
            r["total_s"] += s.end - s.start
            r["self_s"] += selfs[s.id]
        return sorted(rows.values(), key=lambda r: -r["self_s"])

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
