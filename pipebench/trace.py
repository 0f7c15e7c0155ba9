"""Span recorder for the traced run.

Every call the benchmark makes into an engine layer is wrapped in
``tracer.span(layer, name)``. A span records its name, layer, start, end,
parent span and the run id; spans stay in memory and are written out as
JSON lines at the end, so recording costs one ``perf_counter`` pair and a
list append. The untraced run uses :data:`NULL`, whose spans do nothing.

Self time of a span is its duration minus its direct children's; summed
per layer it says where the wall time of the traced run went.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.events: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, layer: str, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "run": self.run_id,
            "id": None,
            "parent": stack[-1]["id"] if stack else None,
            "layer": layer,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def event(self, kind: str, **fields) -> None:
        """A point record (a stub's receive, a micro-batch's progress)."""
        with self._lock:
            self.events.append({"run": self.run_id, "kind": kind, **fields})

    def self_seconds_by_layer(self) -> "dict[str, float]":
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = (s["end"] - s["start"]) - child[s["id"]]
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps({"type": "span", **s}) + "\n")
            for e in self.events:
                fh.write(json.dumps({"type": "event", **e}, default=str) + "\n")


class _NullTracer:
    @contextmanager
    def span(self, layer: str, name: str):
        yield None

    def event(self, kind: str, **fields) -> None:
        pass


NULL = _NullTracer()


def span_cost_us(n: int = 20_000) -> float:
    """Measured cost of one recorded span, in microseconds — the tracing
    overhead per call into a layer."""
    t = Tracer("calibration")
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("calibration", "noop"):
            pass
    return (time.perf_counter() - t0) / n * 1e6
