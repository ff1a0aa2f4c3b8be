"""In-memory span recorder for the traced run.

Spans are recorded from the benchmark's own files by wrapping the public
functions each layer exposes (module attributes and ``QueryEngine``
methods); the library itself carries no tracing code. A span is
``(name, start, end, parent, request)``: ``parent`` is the index of the
enclosing span on the same thread (-1 at top level) and ``request`` is the
id of the request being served when the span began. Self time is a span's
duration minus the durations of its direct children.
"""

from __future__ import annotations

import gzip
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list = []
        self.request = -1
        self._local = threading.local()
        self._patched: list = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, fn, name: str):
        spans, clock = self.spans, time.perf_counter

        def traced(*args, **kwargs):
            stack = self._stack()
            parent = stack[-1] if stack else -1
            idx, request = len(spans), self.request
            spans.append(None)
            stack.append(idx)
            t0 = clock()
            try:
                return fn(*args, **kwargs)
            finally:
                spans[idx] = (name, t0, clock(), parent, request)
                stack.pop()
        return traced

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span measured elsewhere (e.g. a build stage's wall)."""
        self.spans.append((name, start, end, -1, self.request))

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper."""
        self.replace(owner, attr, self.wrap(getattr(owner, attr), name))

    def replace(self, owner, attr: str, fn) -> None:
        """Set ``owner.attr = fn`` until ``restore()``."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, fn)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def summary(self) -> dict[str, dict[str, float]]:
        """-> {name: {"count", "total_s", "self_s"}} over finished spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s is not None and s[3] >= 0:
                child[s[3]] += s[2] - s[1]
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"count": 0, "total_s": 0.0, "self_s": 0.0})
        for i, s in enumerate(self.spans):
            if s is None:
                continue
            name, t0, t1, _parent, _req = s
            agg = out[name]
            agg["count"] += 1
            agg["total_s"] += t1 - t0
            agg["self_s"] += (t1 - t0) - child.get(i, 0.0)
        return dict(out)

    def write(self, path: str) -> None:
        with gzip.open(path, "wt") as f:
            f.write("name,start,end,parent,request\n")
            for s in self.spans:
                if s is not None:
                    f.write("%s,%.9f,%.9f,%d,%d\n" % s)
