"""In-memory spans recorded around calls into the engine's layers.

Spark-free: the tracer only keeps names, times, parents and counters. A
span's Spark figures (jobs, stages, tasks, executor time, shuffle bytes)
are attached afterwards from its job group (``sparkstats.py``).

Spans are kept in memory and written out once, when the run ends.
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
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    run_id: str = ""
    thread: str = ""
    job_group: str | None = None
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Records spans; the parent of a new span is the innermost open span
    of the same thread, unless one is given explicitly."""

    def __init__(self, run_id: str, clock=time.perf_counter):
        self.run_id = run_id
        self.clock = clock
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def start(self, name: str, parent: int | None = None, job_group: str | None = None) -> Span:
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1].id
        with self._lock:
            span = Span(
                id=next(self._ids),
                name=name,
                start=self.clock(),
                parent=parent,
                run_id=self.run_id,
                thread=threading.current_thread().name,
                job_group=job_group,
            )
            self.spans.append(span)
        stack.append(span)
        return span

    def finish(self, span: Span) -> None:
        span.end = self.clock()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    @contextmanager
    def span(self, name: str, parent: int | None = None, job_group: str | None = None):
        s = self.start(name, parent=parent, job_group=job_group)
        try:
            yield s
        finally:
            self.finish(s)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals, counting
    overlapping stretches once."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of its interval that its child
    spans cover. Children that run concurrently (a thread pool's writes)
    overlap each other; each covered instant is subtracted once."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end is not None and c.end > span.start and c.start < span.end
    ]
    return span.duration - union_length(clipped)
