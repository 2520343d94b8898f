"""Span tracing for the traced benchmark run.

The tracer wraps calls into each layer's public functions from outside
the program: it replaces the binding the caller actually looks up (a
module attribute for ``from X import name`` callers, a class attribute
for methods) and restores every binding on exit. Spans live in memory
and are written out once at the end of the run.

A span records its name, start, end, parent span and the per-operation
trace id. A layer's self time is its span's duration minus the time its
direct child spans cover. Work the tracer itself does after a wrapped
call returns (counting plan nodes, reading cache state) is recorded as a
``trace.bookkeeping`` child span, so it is charged to no layer.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list = []
        self.trace_id = None
        #: wrappers pass straight through while inactive
        self.active = False

    # -- spans --------------------------------------------------------------
    def _open(self, name: str) -> dict:
        rec = {"name": name, "trace": self.trace_id, "id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        rec = self._open(name)
        try:
            yield rec
        finally:
            self._close(rec)

    def parent_name(self, rec: dict):
        p = rec["parent"]
        return None if p is None else self.spans[p]["name"]

    # -- patching -------------------------------------------------------------
    def patch(self, owner, attr: str, name: str, before=None, after=None,
              when=None):
        """Replace ``owner.attr`` with a span-recording wrapper.

        ``before(args, kwargs) -> state`` runs ahead of the call,
        ``after(rec, args, kwargs, result, state)`` after it; both are
        timed as bookkeeping. ``when(args)`` false skips recording."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active or (when is not None and not when(args)):
                return fn(*args, **kwargs)
            state = None
            if before is not None:
                with tracer.span("trace.bookkeeping"):
                    state = before(args, kwargs)
            rec = tracer._open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(rec)
            if after is not None:
                with tracer.span("trace.bookkeeping"):
                    after(rec, args, kwargs, out, state)
            return out

        wrapper.__wrapped__ = fn
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, fn))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- reports --------------------------------------------------------------
    def self_times(self) -> dict:
        """Total self time per span name, over closed spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def counts(self) -> dict:
        out = defaultdict(int)
        for s in self.spans:
            out[s["name"]] += 1
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)
