"""In-memory spans around the benchmark's calls into each layer.

A span has a name, start, end, the id of the span open when it began
(its parent) and a request id shared by every span of one operation.
Spans stay in memory and are written as JSON lines at the end of a run.
A disabled tracer records nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from perfbench import stats


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._next_id = 1

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        s = {
            "id": self._next_id,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self._next_id += 1
        self._open.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._open.pop()
            self.spans.append(s)

    def self_ms(self) -> dict[int, float]:
        """Span id → self time: its duration minus the part of its
        interval that its child spans cover."""
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {
            s["id"]: (s["end"] - s["start"] - stats.covered(children.get(s["id"], []))) * 1e3
            for s in self.spans
        }

    def write(self, path: str) -> None:
        selfs = self.self_ms()
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps({**s, "self_ms": round(selfs[s["id"]], 3)}) + "\n")
