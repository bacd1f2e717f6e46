"""In-memory spans for the traced run.

A span is a named interval on the benchmark's own thread, opened around a
call from the benchmark into one layer of the program. Spans are kept in
a list and only summarised when the run ends. Spark jobs are attributed to
spans afterwards by submission time, because jobs submitted from the
pipeline's dim thread pool carry no job group or tag of the caller.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from stats import union_length


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    run_id: int


class Tracer:
    """Records spans opened on the thread that created it; calls made
    from other threads run untraced, so spans never overlap except by
    nesting. A disabled tracer records nothing."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.run_id = 0
        self._stack: list[int] = []
        self._thread = threading.get_ident()

    @contextmanager
    def span(self, name: str):
        if not self.enabled or threading.get_ident() != self._thread:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), float("nan"), parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Duration of span ``idx`` minus the part its children cover."""
        s = self.spans[idx]
        covered = union_length(
            [(c.start, c.end) for c in self.children(idx)], s.start, s.end
        )
        return (s.end - s.start) - covered

    def innermost(self, t: float, run_id: int | None = None) -> int | None:
        """Index of the deepest span open at time ``t``."""
        best, best_depth = None, -1
        for i, s in enumerate(self.spans):
            if (run_id is None or s.run_id == run_id) and s.start <= t <= s.end:
                depth, p = 0, s.parent
                while p is not None:
                    depth, p = depth + 1, self.spans[p].parent
                if depth > best_depth:
                    best, best_depth = i, depth
        return best
