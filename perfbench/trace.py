"""In-memory spans around the benchmark's calls into the program's layers.

A span is (name, start, end, parent, call id, attrs). Spans stay in memory
and are written out once, when the run ends. A span's self time is its
duration minus the part of it its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, call: str, **attrs):
        """Record one span; the yielded dict takes attributes (counts)."""
        rec = {"name": name, "call": call, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "attrs": dict(attrs)}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def wrap(self, owner, attr: str, name: str, call: str):
        """Trace every call of `owner.attr` (a function or method) until the
        block exits; the return value is kept when it is an int."""
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, call) as a:
                out = original(*args, **kwargs)
                if isinstance(out, int):
                    a["returned"] = out
                return out

        setattr(owner, attr, traced)
        try:
            yield
        finally:
            setattr(owner, attr, original)

    def self_time(self, i: int) -> float:
        s = self.spans[i]
        covered = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == i)
        return (s["end"] - s["start"]) - covered

    def named(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([dict(s, id=i) for i, s in enumerate(self.spans)], f)
