"""Spans recorded from outside the program, and their self time.

A span is one call into a public function of the engine. Entering a span
also tags the Spark jobs the call launches with the span's name
(``sc.setJobGroup``), so the event log attributes task metrics to it. The
job group is a per-thread property (PySpark's pinned-thread mode), which is
why a span opened in a worker thread names its parent explicitly.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


def union(intervals) -> list[tuple[float, float]]:
    """Merge intervals into a sorted list of disjoint ones."""
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(intervals) -> float:
    return sum(e - s for s, e in union(intervals))


def self_time(spans: list[Span], name: str) -> float:
    """Time covered by spans called ``name`` minus the part of it that
    their child spans cover. Concurrent spans of one name (bucket jobs on
    a thread pool) count their overlap once."""
    own = [s for s in spans if s.name == name]
    ids = {s.id for s in own}
    mine = union((s.start, s.end) for s in own)
    kids = union((s.start, s.end) for s in spans if s.parent in ids)
    overlap = 0.0
    for ks, ke in kids:
        for ms, me in mine:
            overlap += max(0.0, min(ke, me) - max(ks, ms))
    return covered(mine) - overlap


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    def current(self) -> Span | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, parent: Span | None = None):
        """Time the block as span ``name`` and tag its Spark jobs with it.

        ``parent`` defaults to the innermost open span of this thread. On
        exit the thread's job group returns to the parent's name, or to
        what it was before when there is no parent."""
        stack = self._local.__dict__.setdefault("stack", [])
        parent = parent if parent is not None else self.current()
        before = self.sc.getLocalProperty(GROUP_KEY)
        with self._lock:
            sp = Span(next(self._ids), name,
                      parent.id if parent else None, time.perf_counter())
            self.spans.append(sp)
        stack.append(sp)
        self.sc.setJobGroup(name, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(
                GROUP_KEY, parent.name if parent else before)

    def wrap(self, name: str, fn):
        """``fn`` with each call inside a span called ``name``."""
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapped
