"""Spans recorded by the benchmark around its calls into each layer.

A span is (id, name, parent, start, end). Spans stay in memory and are
written out once, when the benchmark ends. A layer's self time is its
span's duration minus the part covered by its child spans; the layer is
the span name up to its last dot (``operators.timeseries.ewma`` belongs
to ``operators.timeseries``).
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Record a span measured elsewhere (a Spark job from the status
        store)."""
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                           "start": start, "end": end})

    def innermost(self, t: float, within: int) -> int:
        """Id of the deepest span under ``within`` that was open at ``t``."""
        best, best_depth = within, 0
        for s in self.spans[within:]:
            if s["end"] is None or not (s["start"] <= t <= s["end"]):
                continue
            depth, p = 0, s["id"]
            while p is not None and p != within:
                p = self.spans[p]["parent"]
                depth += 1
            if p == within and depth > best_depth:
                best, best_depth = s["id"], depth
        return best

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name over the subtree under ``root``, summed
        across repeated calls. ``spark.job.*`` spans are neither counted
        nor subtracted: they annotate, they are not a layer."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and not s["name"].startswith("spark.job."):
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        todo = [self.spans[root]]
        while todo:
            s = todo.pop()
            children = kids.get(s["id"], [])
            own = (s["end"] - s["start"]) - sum(c["end"] - c["start"] for c in children)
            out[s["name"]] = out.get(s["name"], 0.0) + own
            todo.extend(children)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.spans}, f)


class NullTracer:
    """Tracing off: spans cost one no-op context manager."""

    _null = contextlib.nullcontext()

    def span(self, name: str):
        return self._null
