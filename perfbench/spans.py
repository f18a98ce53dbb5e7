"""Span recorder with Spark stage-metric deltas.

A span is one call into an engine layer, recorded from the benchmark's
side of the call: name, start, end, parent span and a trace id (one per
run, or one per query on the query workload). Spans stay in memory and
are written out as JSON when the run ends.

At the same boundaries the recorder diffs the driver's REST API
(``{uiWebUrl}/api/v1/applications/{appId}/stages`` and ``/jobs``):
every stage and job whose id is above the span's start mark belongs to
the span, so nested spans see their own stages and their parents see
all of them. Before reading the API the recorder drains Spark's
listener bus, so the status store holds every finished stage.

``NullTracer`` is what untraced runs get: same interface, no work.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
import urllib.request
from dataclasses import dataclass, field

# stage-data field -> (span metric, scale to the reported unit)
STAGE_FIELDS = {
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleWriteRecords": ("shuffle_write_records", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "numFailedTasks": ("failed_tasks", 1),
    "numCompleteTasks": ("tasks", 1),
    "inputBytes": ("input_bytes", 1),
    "inputRecords": ("input_records", 1),
}


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    trace_id: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def count(self, **kv) -> None:
        self.counts.update(kv)


class StageMetrics:
    """Reads stage and job metrics from the driver's REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._bus = sc._jsc.sc().listenerBus()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _drain(self) -> None:
        self._bus.waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        self._drain()
        stages = self._get("/stages")
        jobs = self._get("/jobs")
        return (
            max((s["stageId"] for s in stages), default=-1),
            max((j["jobId"] for j in jobs), default=-1),
        )

    def since(self, mark: tuple[int, int]) -> dict:
        """Summed metrics of the stages and jobs started after ``mark``,
        plus the skew (max / median task run time) of the longest one."""
        self._drain()
        stages = [
            s for s in self._get("/stages")
            if s["stageId"] > mark[0] and s["status"] != "SKIPPED"
        ]
        jobs = [j for j in self._get("/jobs") if j["jobId"] > mark[1]]
        out = {name: 0.0 for name, _ in STAGE_FIELDS.values()}
        for s in stages:
            for src, (name, scale) in STAGE_FIELDS.items():
                out[name] += s.get(src, 0) * scale
        out["stages"] = len(stages)
        out["jobs"] = len(jobs)
        out["task_skew"] = 1.0
        if stages:
            longest = max(stages, key=lambda s: s["executorRunTime"])
            q = self._get(
                f"/stages/{longest['stageId']}/{longest['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            if q[0] > 0:
                out["task_skew"] = q[1] / q[0]
        return out


class Tracer:
    enabled = True

    def __init__(self, spark, trace_id: str):
        self.stages = StageMetrics(spark)
        self.spans: list[Span] = []
        self.trace_id = trace_id
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str | None = None, stages: bool = True):
        parent = self._stack[-1] if self._stack else None
        tid = trace_id or (parent.trace_id if parent else self.trace_id)
        mark = self.stages.mark() if stages else None
        sp = Span(name, next(self._ids), parent.span_id if parent else None, tid, time.perf_counter())
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if mark is not None:
                sp.spark = self.stages.since(mark)
            self.spans.append(sp)

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent_id == sp.span_id]

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of the span its children cover."""
        covered = 0.0
        lo = hi = None
        for c in sorted(self.children(sp), key=lambda c: c.start):
            if hi is None or c.start > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = c.start, c.end
            else:
                hi = max(hi, c.end)
        if hi is not None:
            covered += hi - lo
        return sp.duration - covered

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def rows(self, t0: float) -> list[dict]:
        return [
            {
                "name": s.name,
                "span_id": s.span_id,
                "parent_id": s.parent_id,
                "trace_id": s.trace_id,
                "start_s": s.start - t0,
                "end_s": s.end - t0,
                "self_s": self.self_time(s),
                "counts": s.counts,
                "spark": s.spark,
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


def dump(path: str, tracers: dict) -> None:
    """Write each tracer's spans, times relative to the first span."""
    t0 = min((s.start for tr in tracers.values() for s in tr.spans), default=0.0)
    with open(path, "w") as f:
        json.dump({k: tr.rows(t0) for k, tr in tracers.items()}, f, indent=1, default=str)


class _NullSpan:
    def count(self, **kv) -> None:
        pass


class NullTracer:
    enabled = False
    _span = _NullSpan()

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str | None = None, stages: bool = True):
        yield self._span
