"""Spans recorded from outside the program, and the statistics the
benchmark reports.

A span has a name, a start, an end, the span that caused it and the id of
the operation (one compaction pass, one query) it belongs to. Spans stay
in memory and are written once, when the run ends. A layer's self time is
its spans' duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int | None


def covered_s(start: float, end: float, intervals) -> float:
    """Length of the part of [start, end] covered by the union of
    ``intervals`` (overlapping intervals count once)."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self seconds per layer: each span's duration minus what its direct
    children cover, summed over the layer's spans."""
    children: dict[int, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append(sp)
    out: dict[str, float] = defaultdict(float)
    for sp in spans:
        kids = [(c.start, c.end) for c in children.get(sp.sid, ())]
        out[sp.layer] += (sp.end - sp.start) - covered_s(sp.start, sp.end, kids)
    return dict(out)


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile that has at least ``beyond`` samples above
    it, as (percentile, value); None when there are too few samples.

    With n sorted samples, the value at 0-based rank r has n-1-r samples
    above it, so the highest qualifying rank is n-1-beyond and its
    percentile is 100*(r+1)/n."""
    n = len(samples)
    if n <= beyond:
        return None
    rank = n - 1 - beyond
    return 100.0 * (rank + 1) / n, sorted(samples)[rank]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


class Tracer:
    """In-memory span recorder. Thread-safe: calls made from the program's
    own worker threads (parallel renames and deletes) are parented to the
    operation span that is open on the thread that started the operation."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._op: Span | None = None
        self.calls: dict[str, int] = defaultdict(int)

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, op: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else self._op
        with self._lock:
            sid = self._next
            self._next += 1
        sp = Span(sid, name, layer, time.time(), 0.0,
                  parent.sid if parent else None,
                  sid if op else (parent.op if parent else None))
        stack.append(sp)
        if op:
            self._op = sp
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if op:
                self._op = None
            with self._lock:
                self.spans.append(sp)

    def wrap(self, obj, attr: str, name: str, layer: str) -> None:
        """Replace ``obj.attr`` with a wrapper that records a span and a
        call count around each call. Set on an instance, the wrapper
        shadows the class's method for that instance only."""
        fn = getattr(obj, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self._lock:
                self.calls[name] += 1
            with self.span(name, layer):
                return fn(*args, **kwargs)

        setattr(obj, attr, wrapper)

    def count(self, obj, attr: str, name: str) -> None:
        """Like ``wrap`` but only counts calls (no span)."""
        fn = getattr(obj, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self._lock:
                self.calls[name] += 1
            return fn(*args, **kwargs)

        setattr(obj, attr, wrapper)

    def busy_s(self, name: str) -> float:
        """Summed duration of the spans called ``name`` (threads overlap,
        so this is busy time, not wall time)."""
        return sum(sp.end - sp.start for sp in self.spans if sp.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(sp) for sp in self.spans], fh)
