"""In-memory spans around the benchmark's calls into each layer.

A span has a name, start, end, parent span and the id of the pass it
belongs to. Spans stay in memory until ``write`` at the end of the run.
With tracing off the workloads get ``NULL_TRACER``, whose spans record
nothing.
"""

from __future__ import annotations

import contextlib
import json
import time
from typing import Dict, List, Optional


class Tracer:
    def __init__(self) -> None:
        self.spans: List[Dict] = []
        self.pass_id: Optional[int] = None
        self._open: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "pass": self.pass_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def durations(self, name: str) -> List[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_time(self, name: str) -> float:
        """Total duration of ``name`` spans minus the time their direct
        children cover."""
        ids = {s["id"] for s in self.spans if s["name"] == name}
        total = sum(s["end"] - s["start"] for s in self.spans if s["id"] in ids)
        covered = sum(s["end"] - s["start"] for s in self.spans if s["parent"] in ids)
        return total - covered

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _NullTracer:
    def span(self, name: str):
        return contextlib.nullcontext()


NULL_TRACER = _NullTracer()
