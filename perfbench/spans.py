"""Spans around the program's public entry points, recorded from the
benchmark's side.

:meth:`Tracer.wrap` replaces one attribute of a module or class with
a wrapper (``setattr``) for the rest of the process; no file of the
program is changed.  A wrapper records a span only while the tracer is
enabled, so the same session can run traced and untraced units.

A span is ``(id, name, start, end, parent, unit)``.  Spans are kept in
memory and written out once, at the end of a run.  A span's self time
is its duration minus the durations of its direct children; the
program is driven from one thread, so children never overlap.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass
from typing import Any, Callable


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    unit: str | None


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.unit: str | None = None
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._next_id = 0

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> Span:
        stack = self._stack()
        self._next_id += 1
        parent = stack[-1].id if stack else None
        span = Span(self._next_id, name, time.perf_counter(), 0.0, parent, self.unit)
        self.spans.append(span)
        stack.append(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around a block of the benchmark's own code."""
        if not self.enabled:
            yield
            return
        span = self.begin(name)
        try:
            yield
        finally:
            self.end(span)

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        on_call: Callable[..., None] | None = None,
    ) -> None:
        """Record a span ``name`` around every call of ``owner.attr``.
        ``on_call(args, kwargs, result)`` runs after each traced call,
        for counters read from arguments or results."""
        target = getattr(owner, attr)
        tracer = self

        @functools.wraps(target)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return target(*args, **kwargs)
            span = tracer.begin(name)
            try:
                result = target(*args, **kwargs)
            finally:
                tracer.end(span)
            if on_call is not None:
                on_call(args, kwargs, result)
            return result

        setattr(owner, attr, wrapper)

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] += value

    # -- analysis -------------------------------------------------------
    def unit_spans(self, unit: str) -> list[Span]:
        return [s for s in self.spans if s.unit == unit]

    @staticmethod
    def self_times(spans: list[Span]) -> dict[int, float]:
        """Self time of every span: duration minus direct children."""
        child_time: dict[int, float] = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        return {s.id: (s.end - s.start) - child_time[s.id] for s in spans}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")
