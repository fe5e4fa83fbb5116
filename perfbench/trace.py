"""In-memory span recorder for traced runs.

Each benchmark op is a root span; each call into a layer is a child span
carrying that layer's counters.  Spans stay in memory and are written
once, when the run ends.  A disabled tracer records nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "parent", "name", "start", "end", "counters")

    def __init__(self, sid: int, parent: int | None, name: str, start: float):
        self.id = sid
        self.parent = parent
        self.name = name
        self.start = start
        self.end = start
        self.counters: dict[str, float] = {}

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "parent": self.parent,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "counters": self.counters,
        }


class _Discard:
    """What a disabled tracer yields: counters written to it are dropped."""

    @property
    def counters(self) -> dict:
        return {}


_DISCARD = _Discard()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield _DISCARD
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _children(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return kids


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover
    (children clipped to the parent's interval)."""
    kids = _children(spans)
    out = {}
    for s in spans:
        covered = union_length(
            [
                (max(c.start, s.start), min(c.end, s.end))
                for c in kids.get(s.id, [])
                if c.end > s.start and c.start < s.end
            ]
        )
        out[s.id] = s.duration - covered
    return out


def coverage(spans: list[Span]) -> dict[int, float]:
    """Root span id -> share of its duration covered by its children."""
    selfs = self_times(spans)
    return {
        s.id: (1.0 - selfs[s.id] / s.duration) if s.duration > 0 else 1.0
        for s in spans
        if s.parent is None
    }


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name, in seconds."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + selfs[s.id]
    return out
