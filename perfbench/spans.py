"""In-memory span tracer wrapped around the engine's public entry points.

The engine is not edited: ``install`` rebinds each traced function or
method, in every loaded module of the package that holds it, to a
wrapper that records a span (name, start, end, parent, thread, Spark
jobs submitted while it was open, attributes). Spans stay in memory and
are written out once, after the run.

Self time is attributed on one timeline: at each instant the wall time
is split evenly between the open spans that have no open child, so the
self times of all spans sum to the traced wall time at most, even when
spans run concurrently on pool threads. A span opened on a pool thread
takes the driver thread's innermost open span as its parent.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "encode_ingest_spark"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: int
    start: float
    end: float = 0.0
    jobs: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, job_count):
        #: () -> int, the jobs the application has submitted so far; its
        #: delta over a span counts the jobs of every job group,
        #: streaming included
        self._job_count = job_count
        self.enabled = False
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._driver = threading.get_ident()
        self._driver_stack: list[Span] = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._driver:
            return self._driver_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._stack()
        if stack:
            parent = stack[-1].id
        elif stack is not self._driver_stack and self._driver_stack:
            parent = self._driver_stack[-1].id
        else:
            parent = None
        jobs0 = self._job_count()
        with self._lock:
            s = Span(len(self.spans), name, parent, threading.get_ident(), 0.0,
                     attrs=attrs)
            self.spans.append(s)
        stack.append(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t_in
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            s.jobs = self._job_count() - jobs0
            self.overhead_s += time.perf_counter() - s.end

    @contextmanager
    def bookkeeping(self):
        """Time spent in tracer-only work (manifest diffs and the like),
        charged to the overhead figure."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    # ---- installing wrappers -------------------------------------------

    def wrap_function(self, orig, name: str, after=None, before=None):
        """Rebind ``orig`` in every loaded package module that holds it.
        ``before(*args, **kw)`` returns a context handed to
        ``after(span, ctx, result, *args, **kw)``; both run as
        bookkeeping."""
        wrapper = self._wrapper(orig, name, before, after)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)
        return wrapper

    def wrap_method(self, cls, attr: str, name: str, after=None, before=None):
        setattr(cls, attr, self._wrapper(getattr(cls, attr), name, before, after))

    def _wrapper(self, orig, name, before, after):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            if not tracer.enabled:
                return orig(*args, **kw)
            ctx = None
            with tracer.bookkeeping():
                if before is not None:
                    ctx = before(*args, **kw)
            with tracer.span(name) as s:
                out = orig(*args, **kw)
            if after is not None:
                with tracer.bookkeeping():
                    try:
                        after(s, ctx, out, *args, **kw)
                    except Exception as e:  # never fail the traced call
                        s.attrs["bookkeeping_error"] = repr(e)
            return out

        return wrapper

    # ---- analysis ------------------------------------------------------

    def self_times(self, t0: float, t1: float) -> dict[str, float]:
        """Seconds of [t0, t1] attributed to each span name (see module
        docstring); the values sum to at most ``t1 - t0``."""
        events = []
        for s in self.spans:
            a, b = max(s.start, t0), min(s.end, t1)
            if b > a:
                events.append((a, 1, s))
                events.append((b, 0, s))
        events.sort(key=lambda e: (e[0], e[1]))
        open_children: dict[int, int] = {}
        active: dict[int, Span] = {}
        out: dict[str, float] = {}
        prev = None
        for t, kind, s in events:
            if prev is not None and t > prev and active:
                leaves = [x for x in active.values() if not open_children.get(x.id)]
                share = (t - prev) / len(leaves)
                for x in leaves:
                    out[x.name] = out.get(x.name, 0.0) + share
            prev = t
            if kind == 1:
                active[s.id] = s
                if s.parent in active:
                    open_children[s.parent] = open_children.get(s.parent, 0) + 1
            else:
                active.pop(s.id, None)
                if s.parent in active:
                    open_children[s.parent] -= 1
        return out

    def dump(self, path: str, t0: float) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": s.id, "name": s.name, "parent": s.parent,
                        "thread": s.thread, "start_s": s.start - t0,
                        "end_s": s.end - t0, "jobs": s.jobs, "attrs": s.attrs,
                    }
                    for s in self.spans
                ],
                f,
            )
