"""Spans and counters for the benchmark's traced runs.

A span records one call into a layer of the program: its name, start,
end, the span that was open when it began (its parent) and the op it
belongs to. Spans stay in memory and are written out once, at exit.
The benchmark opens spans around its own calls and, in traced runs,
wraps public functions of the program's modules so calls made inside
the program are timed too. Untraced runs install no wrappers.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = enabled  # wrappers record only while active
        self.op: str | None = None
        self.spans: list[list] = []  # [name, start, end, parent index, op]
        self._stack: list[int] = []
        self._main = threading.get_ident()
        self._restore: list[tuple[object, str, object]] = []

    def _recording(self) -> bool:
        return self.active and threading.get_ident() == self._main

    @contextmanager
    def span(self, name: str):
        if not self._recording():
            yield
            return
        idx = len(self.spans)
        rec = [name, time.perf_counter(), None, self._stack[-1] if self._stack else None, self.op]
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def add_span(self, name: str, start: float, end: float) -> None:
        """Record a span that the program timed itself (e.g. a ledger
        entry), after the fact. Sibling spans recorded inside its interval
        become its children."""
        if not self._recording():
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        for s in reversed(self.spans):
            if s[1] < start:
                break
            if s[3] == parent and s[2] is not None and s[2] <= end:
                s[3] = idx
        self.spans.append([name, start, end, parent, self.op])

    def wrap(self, owner: object, attr: str, name: str, *, static: bool = False) -> None:
        """Replace `owner.attr` by a function that runs it inside a span."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        target = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return target(*args, **kwargs)

        setattr(owner, attr, staticmethod(traced) if static else traced)
        self._restore.append((owner, attr, original))

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name and s[2] is not None]

    def self_times(self) -> dict[str, tuple[float, int]]:
        """Per span name: (total self seconds, count). Self time is the
        span's duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _op in self.spans:
            if parent is not None and end is not None:
                child[parent] += end - start
        out: dict[str, tuple[float, int]] = {}
        for i, (name, start, end, _parent, _op) in enumerate(self.spans):
            if end is None:
                continue
            total, count = out.get(name, (0.0, 0))
            out[name] = (total + (end - start) - child[i], count + 1)
        return out

    def dump(self, path: str, meta: dict) -> None:
        keys = ("name", "start", "end", "parent", "op")
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": [dict(zip(keys, s)) for s in self.spans]}, fh)
            fh.write("\n")
