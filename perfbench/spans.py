"""Spans recorded from the benchmark's own files.

``Tracer.patch`` replaces a public function (or method) of a layer
with a wrapper that records a span around each call. Spans are kept
in memory; each has a name, start, end and parent, and belongs to the
operation that was open when it started. The program under test is
not edited: patching happens from the benchmark, in the traced run
only, and every patch is undone by ``unpatch``.

A span's *self time* is its duration minus the time its children
cover. Because the client is sequential, the spans of one operation
nest strictly, so the self times of all spans of an operation (the
operation's own root span included) sum to its wall time exactly.
"""

from __future__ import annotations

import functools
import inspect
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Callable


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[tuple[int | None, str], int] = defaultdict(int)
        self._stack: list[int] = []
        self._op: int | None = None
        self._patches: list[tuple[Any, str, Any]] = []

    # -- recording -----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self._op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    @contextmanager
    def op(self, op_id: int):
        """Root span of one benchmark operation."""
        self._op = op_id
        try:
            with self.span("op"):
                yield
        finally:
            self._op = None

    def count(self, name: str, n: int = 1) -> None:
        self.counts[(self._op, name)] += n

    def parent_name(self) -> str | None:
        return self.spans[self._stack[-1]].name if self._stack else None

    # -- patching ------------------------------------------------------------
    def wrap(self, fn: Callable,
             name: str | Callable[[str | None], str]) -> Callable:
        """Wrap ``fn`` so each call records a span. ``name`` may be a
        function of the enclosing span's name (one wrapper serving
        several layers). Exceptions are counted as ``<name>.raised``."""
        tracer = self

        def resolve() -> str:
            return name(tracer.parent_name()) if callable(name) else name

        if inspect.iscoroutinefunction(fn):
            @functools.wraps(fn)
            async def awrapper(*args, **kwargs):
                n = resolve()
                with tracer.span(n):
                    try:
                        return await fn(*args, **kwargs)
                    except Exception:
                        tracer.count(f"{n}.raised")
                        raise
            return awrapper

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            n = resolve()
            with tracer.span(n):
                try:
                    return fn(*args, **kwargs)
                except Exception:
                    tracer.count(f"{n}.raised")
                    raise
        return wrapper

    def patch(self, owner: Any, attr: str,
              name: str | Callable[[str | None], str]) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- analysis ------------------------------------------------------------
    def self_times(self) -> dict[int, dict[str, float]]:
        """op id -> span name -> summed self time (s)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[int, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            if s.op is not None:
                out[s.op][s.name] += (s.end - s.start) - child[i]
        return out

    def op_walls(self) -> dict[int, float]:
        return {s.op: s.end - s.start for s in self.spans
                if s.name == "op" and s.op is not None}

    def span_count(self, op_id: int) -> int:
        return sum(1 for s in self.spans if s.op == op_id)


def span_cost_s(calls: int = 20000) -> float:
    """Measured cost of one span: a wrapped no-op minus a bare no-op."""
    tracer = Tracer()

    def noop() -> None:
        return None

    wrapped = tracer.wrap(noop, "noop")
    t0 = time.perf_counter()
    for _ in range(calls):
        noop()
    bare = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(calls):
        wrapped()
    traced = time.perf_counter() - t0
    return max(traced - bare, 0.0) / calls
