"""In-memory span recorder for the traced run.

Span tree: ``run`` -> ``iteration`` -> ``call:<op>`` -> ``construct`` /
``execute`` / ``probe`` / ``replay:<module.function>``. Each span has a
name, start, end (seconds since the run began), parent id and call id;
counts ride on the span where they were measured. Spans are written out
once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            call_id: int | None = None, **counts) -> int:
        """Record a finished span from absolute ``perf_counter`` times."""
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        if call_id is None and parent is not None:
            call_id = self.spans[parent]["call_id"]
        self.spans.append({"id": sid, "name": name, "start": start - self.t0,
                           "end": end - self.t0, "parent": parent,
                           "call_id": call_id, "counts": counts})
        return sid

    @contextmanager
    def span(self, name: str, call_id: int | None = None, **counts):
        start = time.perf_counter()
        sid = self.add(name, start, start, call_id=call_id, **counts)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter() - self.t0

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            key = s["name"].split(":")[0] if s["name"].startswith("call:") else s["name"]
            out[key] = out.get(key, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra}, f)
