"""In-memory spans and Spark job counts recorded around calls into each layer.

A disabled :class:`Tracer` records nothing and sets no job groups, so the
untraced measurement pays only an attribute check per call.  Spans are kept
in memory and written out once, by :meth:`Tracer.dump`, when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str, key: str | int | None = None, job_group: str | None = None):
        """Time a call into a layer; with ``job_group`` the Spark jobs it
        launches are tagged so :meth:`jobs` can count them."""
        if not self.enabled:
            yield
            return
        entered = time.perf_counter()
        idx = len(self.spans)
        rec = {"name": name, "key": key, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        if job_group is not None:
            self.sc.setJobGroup(job_group, name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - entered
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if job_group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - rec["end"]

    def jobs(self, job_group: str) -> int:
        t0 = time.perf_counter()
        n = len(self.sc.statusTracker().getJobIdsForGroup(job_group))
        self.overhead_s += time.perf_counter() - t0
        return n

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_durations(self, name: str) -> list[float]:
        """Per span of ``name``: its duration minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - child[i] for i, s in enumerate(self.spans) if s["name"] == name]

    def table(self) -> list[dict]:
        """Per span name: calls, total, median and self time (seconds)."""
        rows = []
        for name in dict.fromkeys(s["name"] for s in self.spans):
            d = self.durations(name)
            rows.append(
                {
                    "layer": name,
                    "calls": len(d),
                    "total_s": sum(d),
                    "median_s": statistics.median(d),
                    "self_s": sum(self.self_durations(name)),
                }
            )
        return rows

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "layers": self.table(), **extra}, fh, indent=1)
