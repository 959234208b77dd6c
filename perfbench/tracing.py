"""Spans and counts recorded at the benchmark's calls into each layer.

A :class:`Tracer` is created per run. With tracing off every method is a
cheap no-op apart from :meth:`Tracer.timed`, which always measures wall
time because the end-to-end metrics are built from it. With tracing on it
also keeps spans in memory (name, start, end, parent, workload, step), the
Spark job count across each span and any counts the workload adds, and
writes them out with :meth:`Tracer.dump` when the run ends.

Spark jobs are counted as the change in the scheduler's next job id, which
is one more than the highest job id the status tracker has seen.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, workload: str, spark=None):
        self.enabled = enabled
        self.workload = workload
        self.spark = spark
        self.step = None
        #: set during warm-up steps: their spans are kept in the dump but
        #: left out of every query, and their counts are not recorded
        self.warmup = False
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []

    # -- job counter -----------------------------------------------------------

    def jobs(self) -> int:
        """Spark jobs submitted so far in this application."""
        return int(self.spark.sparkContext._jsc.sc().dagScheduler()
                   .nextJobId())

    # -- spans -----------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        """Record one span around a layer call (no-op when tracing is off)."""
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "workload": self.workload, "step": self.step,
               "parent": self._stack[-1] if self._stack else None,
               "id": len(self.spans), "warmup": self.warmup}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        j0 = self.jobs()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = self.jobs() - j0
            self._stack.pop()

    def timed(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span; return ``(result, wall seconds)``."""
        with self.span(name):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            return out, time.perf_counter() - t0

    def wrap(self, obj, method: str, name: str) -> None:
        """Route ``obj.method`` through a span, for calls the program makes
        into another layer (for example the engine into its state store)."""
        if not self.enabled:
            return
        inner = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(obj, method, traced)

    def count(self, name: str, value: float) -> None:
        if self.enabled and not self.warmup:
            self.counts[name].append(value)

    # -- span queries ----------------------------------------------------------

    def finished(self, name: str) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and "end" in s and not s["warmup"]]

    def children(self, span: dict, name: str) -> list[dict]:
        """Spans called ``name`` nested anywhere under ``span``."""
        out, ids = [], {span["id"]}
        for s in self.spans[span["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                if s["name"] == name:
                    out.append(s)
        return out

    def kids(self, span: dict) -> list[dict]:
        """Finished spans whose parent is ``span``."""
        return [s for s in self.spans[span["id"] + 1:]
                if s["parent"] == span["id"] and "end" in s]

    def self_time(self, span: dict) -> float:
        """Duration minus the part covered by direct child spans."""
        return (span["end"] - span["start"]) - sum(
            k["end"] - k["start"] for k in self.kids(span))

    def self_times(self) -> dict[str, float]:
        """Total self time per span name over the run."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if "end" in s:
                out[s["name"]] += self.self_time(s)
        return dict(out)

    def median_count(self, name: str) -> float:
        vals = self.counts.get(name)
        return statistics.median(vals) if vals else 0.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "spans": self.spans,
                       "counts": self.counts,
                       "self_s": self.self_times()}, f)
