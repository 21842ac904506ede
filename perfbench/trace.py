"""In-memory spans for the traced run.

A span records name, layer, start, end, parent span and run id. Spans are
kept in a list and written out once, when the run ends. A layer's self time
is the summed duration of its spans minus the part covered by their child
spans.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Self seconds per layer. Children of one span never overlap (one
        closed loop, one thread), so their durations simply add up."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_s": self.self_times()}, f, indent=1)


class NullTracer:
    """Stands in for :class:`Tracer` when tracing is off: records nothing."""

    @contextmanager
    def span(self, name: str, layer: str):
        yield None
