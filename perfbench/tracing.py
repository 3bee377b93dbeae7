"""Span recorder for the traced run, plus the small statistics helpers the
benchmark reports with.

Spans are recorded by the benchmark around its calls into each layer of
the program (name, start, end, parent, and a trace id shared by the spans
of one micro-batch or one panel round). They stay in memory and are
written with the run's record when the run ends. With tracing off every
method is a no-op, so the untraced run pays nothing for it.

Spark job and stage counts per span come from tagging the span's calls
with a job group and reading ``statusTracker`` when the span closes.
"""

from __future__ import annotations

import itertools
import time
from collections import defaultdict
from contextlib import contextmanager


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Tracer:
    """In-memory spans for one run. ``sc`` is the live SparkContext, or
    None until the session exists (spans then carry no job counts)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        """Time the enclosed calls as one span, nested under the open span."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {"id": next(self._ids), "name": name,
              "parent": parent["id"] if parent else None,
              "trace": trace or (parent["trace"] if parent else None),
              "attrs": attrs}
        group = f"perfbench-{sp['id']}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        self._stack.append(sp)
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                sp["jobs"], sp["stages"] = self.jobs_in_group(group)
                if parent is not None:
                    self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    def add(self, name: str, start: float, end: float, parent: int | None,
            trace: str | None, jobs: int = 0, stages: int = 0, **attrs) -> int | None:
        """Record a span measured elsewhere (a micro-batch from its progress)."""
        if not self.enabled:
            return None
        sid = next(self._ids)
        self.spans.append({"id": sid, "name": name, "parent": parent, "trace": trace,
                           "start": start, "end": end, "attrs": attrs,
                           "jobs": jobs, "stages": stages})
        return sid

    def jobs_in_group(self, group: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages += len(info.stageIds)
        return len(jobs), stages

    def self_times(self) -> dict[str, dict]:
        """Per span name: calls, total time, and self time (duration minus
        the part of the interval its child spans cover)."""
        children = defaultdict(list)
        for sp in self.spans:
            if sp["parent"] is not None:
                children[sp["parent"]].append(sp)
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0,
                                                    "jobs": 0, "stages": 0})
        for sp in self.spans:
            dur = sp["end"] - sp["start"]
            covered, cursor = 0.0, sp["start"]
            for c in sorted(children[sp["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], sp["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            row = out[sp["name"]]
            row["calls"] += 1
            row["total_s"] += dur
            row["self_s"] += dur - covered
            row["jobs"] += sp.get("jobs", 0)
            row["stages"] += sp.get("stages", 0)
        return dict(out)
