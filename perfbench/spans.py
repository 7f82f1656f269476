"""Spans, their self-time arithmetic, and the Spark work under them.

A span is recorded by the benchmark around each call it makes into a
layer of the package (``pipeline.stage_ingest``, ``streaming.
bucketed_merge``, ...). Spans live in memory and are written out once,
when the run ends. Leaf spans also name a Spark job group, so the jobs
Spark ran inside the call can be looked up afterwards in the driver's
status REST API and attributed to the layer that made the call.
"""

from __future__ import annotations

import itertools
import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from datetime import datetime, timezone


@dataclass
class Span:
    name: str           # "<layer>.<call>", e.g. "streaming.bucketed_merge"
    start: float        # time.time() seconds
    end: float
    span_id: int
    parent: int | None
    request: int        # the timed operation this span belongs to

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the part of [lo, hi] that the union of ``intervals``
    covers (overlaps counted once)."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.span_id: s.duration - covered(kids.get(s.span_id, []),
                                            s.start, s.end)
            for s in spans}


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Summed self time per layer."""
    out: dict[str, float] = {}
    st = self_times(spans)
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.span_id]
    return out


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch
    and records nothing, so untraced runs time the bare calls."""

    def __init__(self, enabled: bool, spark=None) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self.request = 0

    @contextmanager
    def span(self, name: str, *, leaf: bool = False):
        """Record a span around the ``with`` body. A ``leaf`` span also
        runs its body under a Spark job group named after the span id,
        so ``SparkJobs`` can find the jobs it ran."""
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        sc = self.spark.sparkContext if leaf else None
        if sc is not None:
            sc.setJobGroup(f"span-{sid}", name)
        self._stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(name, start, end, sid, parent,
                                   self.request))

    def write(self, stream) -> None:
        for s in sorted(self.spans, key=lambda s: s.span_id):
            stream.write(json.dumps(asdict(s)) + "\n")


def _epoch(ts: str | None) -> float | None:
    """REST timestamps look like ``2026-10-17T03:00:00.123GMT``."""
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", ""),
                             "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


class SparkJobs:
    """Jobs, stages and task metrics per job group, read once at the
    end of a run from the driver's status REST API on the loopback UI
    port (the same numbers the Spark UI shows)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def by_group(self) -> dict[str, dict]:
        """``{job group: {"jobs": [(start, end)], "stages": [...]}}``
        for every job that ran under a group."""
        attempts: dict[int, list[dict]] = {}
        for st in self._get("/stages"):
            if st.get("status") != "SKIPPED":
                attempts.setdefault(st["stageId"], []).append(st)
        out: dict[str, dict] = {}
        for job in self._get("/jobs"):
            group = job.get("jobGroup")
            if not group:
                continue
            g = out.setdefault(group, {"jobs": [], "stages": []})
            g["jobs"].append((_epoch(job.get("submissionTime")),
                              _epoch(job.get("completionTime"))))
            for sid in job.get("stageIds", []):
                g["stages"].extend(attempts.get(sid, []))
        return out

    def task_skew(self, stage: dict) -> float | None:
        """Max over median task run time of one stage (None under two
        tasks or with a zero median)."""
        if stage.get("numCompleteTasks", 0) < 2:
            return None
        q = self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                      "/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return mx / med if med > 0 else None
