"""In-memory spans recorded around calls into the package's public API.

The traced run patches public callables from outside (each name where
its caller looks it up) so every call opens a span ``(id, parent, name,
op, start, end)``. Spans stay in memory and are written out when the run
ends. A layer's self time is its span's duration minus the part of that
interval its child spans cover.

Calls made outside a traced op pass straight through the wrappers.
``span_cost`` measures what one recorded span costs, which gives the
tracing overhead of a run.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    op: int | None
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # root span of the op in flight for single-client workloads, so
        # calls made on the package's own pool threads still nest under it
        self.ambient: Span | None = None
        self._undo: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _parent(self) -> Span | None:
        st = self._stack()
        if st:
            return st[-1]
        return self.ambient

    @contextmanager
    def span(self, name: str):
        parent = self._parent()
        if parent is None:  # no traced op in flight: pass through
            yield None
            return
        sp = Span(next(self._ids), parent.id, name, parent.op, time.perf_counter())
        st = self._stack()
        st.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def op(self, op_id: int, name: str, ambient: bool = False):
        """Root span of one op. ``ambient`` lets threads the op spawns
        (with empty span stacks) attach their spans to it."""
        sp = Span(next(self._ids), None, name, op_id, time.perf_counter())
        st = self._stack()
        st.append(sp)
        if ambient:
            self.ambient = sp
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()
            if ambient:
                self.ambient = None
            with self._lock:
                self.spans.append(sp)

    # -- patching ----------------------------------------------------------

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        # a plain function stored on a class must stay a plain function
        # so it still binds ``self``
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, self.wrap(orig, name))

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- analysis ----------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Total self time per span name over all recorded spans."""
        children: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append(sp)
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp.name] += sp.end - sp.start - covered(sp, children.get(sp.id, []))
        return dict(out)

    @staticmethod
    def span_cost(n: int = 20000) -> float:
        """Seconds one recorded span adds, measured on a throwaway tracer."""
        t = Tracer()
        with t.op(0, "calibrate"):
            t0 = time.perf_counter()
            for _ in range(n):
                with t.span("x"):
                    pass
            return (time.perf_counter() - t0) / n

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(sp)) + "\n")


def covered(parent: Span, kids: list[Span]) -> float:
    """Length of the union of the kids' intervals, clipped to the parent."""
    ivs = sorted(
        (max(k.start, parent.start), min(k.end, parent.end)) for k in kids
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def check_nesting(spans: list[Span]) -> list[str]:
    """Violations of the span invariants: a child must lie inside its
    parent's interval and every self time must be >= 0."""
    by_id = {s.id: s for s in spans}
    bad = []
    for s in spans:
        if s.end < s.start:
            bad.append(f"span {s.id} {s.name} ends before it starts")
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None and (s.start < p.start or s.end > p.end):
            bad.append(f"span {s.id} {s.name} escapes parent {p.id} {p.name}")
    return bad
