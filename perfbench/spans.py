"""In-memory span recorder for the benchmark's traced runs.

A span is one timed call into a layer: name, start, end, the span that
caused it, and the id of the operation (one query execution, one storage
step) it belongs to. Spans are kept in a list and written out once, when
the run ends. The untraced run uses ``NullTracer``, whose spans cost one
context-manager entry and nothing else.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    """Records spans from any number of client threads. Each thread has its
    own stack of open spans, so a span's parent is the innermost span its
    thread had open when it started."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        #: seconds spent on tracing: in the recorder, and whatever callers add
        self.bookkeeping_s = 0.0

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            **attrs,
        }
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
                self.bookkeeping_s += rec["start"] - t_in + time.perf_counter() - rec["end"]

    def add_bookkeeping(self, seconds: float) -> None:
        """Count time spent on tracing rather than on the workload (the
        counter is shared by every client thread)."""
        with self._lock:
            self.bookkeeping_s += seconds

    def new_op(self) -> int:
        with self._lock:
            return next(self._ids)

    def self_times(self, ops: set[int]) -> dict[str, float]:
        """Seconds per span name over the spans of the given operations,
        minus the part of each span's interval its child spans cover
        (children of one span never overlap: a thread runs them one after
        another)."""
        mine = [s for s in self.spans if s["op"] in ops]
        child_s: dict[int, float] = defaultdict(float)
        for s in mine:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in mine:
            out[s["name"]] += s["end"] - s["start"] - child_s[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class NullTracer:
    """The untraced run's recorder: records nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        yield None

    def new_op(self) -> int:
        return 0
