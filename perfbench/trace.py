"""Span recorder for the traced run.

Spans are recorded from the benchmark's side of each layer boundary: for
the traced run only, :meth:`Tracer.wrap` swaps a module or class attribute
for a timing wrapper and :meth:`Tracer.close` puts the original back. The
untraced run never installs a wrapper, so it measures the program as is.

Every span carries its parent and the id of the operation (query, append,
build, ...) that caused it. The resident searcher scores segments in a
thread pool, where a thread-local "current span" would be lost, so the
operation id and root span are held on the tracer itself and stamped on
each span explicitly (the benchmark is a single closed-loop client: one
operation is in flight at a time).
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: str | None
    t0: float
    t1: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: str | None = None
        self._root: int | None = None
        self._restore: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------
    def _open(self, name: str) -> Span:
        parent = getattr(self._local, "cur", None)
        if parent is None:
            parent = self._root
        with self._lock:
            sp = Span(len(self.spans), name, parent, self._op, time.perf_counter())
            self.spans.append(sp)
        return sp

    def span(self, name: str):
        return _SpanCtx(self, name)

    def operation(self, op_id: str, name: str):
        """Root span of one operation; spans opened on any thread until it
        ends are attributed to ``op_id``."""
        return _OpCtx(self, op_id, name)

    # -- wrapping ----------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, count=None, pre=None):
        """Record a span around every call of ``owner.attr``.

        ``pre(args, kwargs, span)`` runs before the call and
        ``count(args, kwargs, result, span)`` after it; either may add
        counters to the span.
        """
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                if pre is not None:
                    pre(args, kwargs, sp)
                res = orig(*args, **kwargs)
                if count is not None:
                    count(args, kwargs, res, sp)
            return res

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def close(self):
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- analysis ----------------------------------------------------------
    def named(self, name: str, op_prefix: str | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and (op_prefix is None or (s.op or "").startswith(op_prefix))
        ]

    def self_ms(self, sp: Span) -> float:
        """Span duration minus the union of its direct children's intervals."""
        kids = [c for c in self.spans if c.parent == sp.sid]
        return sp.ms - union_ms(kids, sp.t0, sp.t1)


def union_ms(spans, t0: float, t1: float) -> float:
    """Length of the union of the spans' intervals within [t0, t1]: the
    time during which at least one thread was inside one of them."""
    covered, end = 0.0, t0
    for a, b in sorted((s.t0, s.t1) for s in spans):
        a, b = max(a, end), min(b, t1)
        if b > a:
            covered += b - a
            end = b
    return covered * 1000.0


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        tr = self.tracer
        self.sp = tr._open(self.name)
        self.prev = getattr(tr._local, "cur", None)
        tr._local.cur = self.sp.sid
        return self.sp

    def __exit__(self, *exc):
        self.sp.t1 = time.perf_counter()
        self.tracer._local.cur = self.prev
        return False


class _OpCtx(_SpanCtx):
    def __init__(self, tracer: Tracer, op_id: str, name: str):
        super().__init__(tracer, name)
        self.op_id = op_id

    def __enter__(self) -> Span:
        tr = self.tracer
        tr._op, tr._root = self.op_id, None
        sp = super().__enter__()
        tr._root = sp.sid
        return sp

    def __exit__(self, *exc):
        super().__exit__(*exc)
        self.tracer._op, self.tracer._root = None, None
        return False
