"""Spans recorded from outside the program: the traced run replaces public
functions of each layer with timing wrappers, at the names their callers
look up at call time, and restores them afterwards.

Each span also sets a Spark local property naming itself on the calling
thread, so every Spark job the span submits carries its owner into the
event log (``eventlog.parse``). The property is per thread, so attribution
holds under ``pipeline.run``'s thread pool and in the streaming
``foreachBatch`` thread. A dedicated property is used rather than
``spark.jobGroup.id`` so that job groups the program sets itself cannot
overwrite the attribution.
"""

from __future__ import annotations

import functools
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "cda.bench.span"
#: the root span of each traced operation
OP_SPAN = "bench.op"


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; the caller reads ``spans`` at the end."""

    def __init__(self, sc):
        self._sc = sc
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._next_id = 0
        self.spans: list[Span] = []
        self.op = -1
        self._op_span: Span | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        """Time a block; Spark jobs it submits are owned by this span. A span
        opened on a thread with no open span (a pool or callback thread) is
        a child of the current operation's span."""
        stack = self._stack()
        parent = stack[-1] if stack else self._op_span
        with self._lock:
            self._next_id += 1
            s = Span(self._next_id, name, self.op, parent.id if parent else None, 0.0)
        prev = self._sc.getLocalProperty(SPAN_PROPERTY)
        self._sc.setLocalProperty(SPAN_PROPERTY, str(s.id))
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self._sc.setLocalProperty(SPAN_PROPERTY, prev)
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def operation(self, index: int) -> Iterator[Span]:
        """The root span of one timed operation."""
        self.op = index
        with self.span(OP_SPAN) as s:
            self._op_span = s
            try:
                yield s
            finally:
                self._op_span = None

    def patch(
        self,
        owner: object,
        attr: str,
        name: str,
        count: Callable[[Span, object, tuple, dict], None] | None = None,
    ) -> None:
        """Wrap ``owner.attr`` in a span. ``count(span, result, args,
        kwargs)`` runs after the span has closed, so its cost is not part
        of the span's time."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
            if count is not None:
                count(s, out, args, kwargs)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def self_time(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the time its child spans cover. Children
    on other threads (pool workers) overlap each other, so their union,
    not their sum, is subtracted."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out
