"""Spans, Spark job groups, the UDF profiler and the event-log digest.

A :class:`Tracer` records one span per call the benchmark makes into a
layer: name, start, end, parent span and request id, kept in memory and
written out as JSON lines when the run ends. Each span runs under its own
Spark job group, so the status tracker can count the jobs it started.

Jobs started from threads the benchmark does not own (the pipeline
runner's stage pool) carry no job group; :func:`digest_event_log` gives
those to the innermost span whose wall window holds the stage's
submission time. With tracing off every span is a no-op.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: str | None
    group: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    jobs: int = 0  # status-tracker job count under this span's own group
    udf_s: float = 0.0  # UDF-profiler self time charged while the span ran
    # filled by digest_event_log (this span's own stages, no descendants)
    stages: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _udf_total(self) -> float:
        """Cumulative self time of every profiled UDF so far (perf profiler,
        ``spark.sql.pyspark.udf.profiler=perf``)."""
        results = self.spark.profile.profiler_collector._perf_profile_results
        return sum(st.total_tt for st in results.values() if st is not None)

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            request=request if request is not None else (parent.request if parent else None),
            group=f"perfbench-{len(self.spans)}",
            start=0.0,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        udf0 = self._udf_total()
        sc.setJobGroup(sp.group, name)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sp.jobs = len(sc.statusTracker().getJobIdsForGroup(sp.group))
            sp.udf_s = self._udf_total() - udf0

    def subtree(self, sp: Span) -> list[Span]:
        out = [sp]
        for s in self.spans[sp.id + 1:]:
            if s.parent is not None and any(s.parent == o.id for o in out):
                out.append(s)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


# ------------------------------------------------------------------ event log


@dataclass
class StageStats:
    stage_id: int
    submitted: float  # epoch seconds
    group: str | None
    task_ms: list = field(default_factory=list)
    shuffle_write: int = 0
    spill_disk: int = 0
    records_read: int = 0


def _read_events(path: str):
    with open(path) as f:
        for line in f:
            yield json.loads(line)


def digest_event_log(path: str, tracer: Tracer) -> dict:
    """Read one application's event log and attach each stage to a span.

    A stage belongs to the span whose job group it ran under; a stage with
    no group belongs to the innermost span open at its submission. Returns
    the count of group-less jobs (from threads outside any span's group)
    per innermost span open at their submission, keyed by span id."""
    stages: dict[int, StageStats] = {}
    job_times: list[tuple[float, str | None]] = []
    for ev in _read_events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job_times.append((ev["Submission Time"] / 1000.0, props.get("spark.jobGroup.id")))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            props = ev.get("Properties") or {}
            sid = info["Stage ID"]
            stages[sid] = StageStats(
                sid,
                (info.get("Submission Time") or 0) / 1000.0,
                props.get("spark.jobGroup.id"),
            )
        elif kind == "SparkListenerTaskEnd":
            st = stages.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if st is None or not m:
                continue
            st.task_ms.append(m.get("Executor Run Time", 0))
            st.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            st.spill_disk += m.get("Disk Bytes Spilled", 0)
            st.records_read += m.get("Input Metrics", {}).get("Records Read", 0)

    by_group = {sp.group: sp for sp in tracer.spans}

    def innermost(t: float) -> Span | None:
        best = None
        for sp in tracer.spans:
            if sp.start <= t <= sp.end and (best is None or sp.start >= best.start):
                best = sp
        return best

    for st in stages.values():
        sp = by_group.get(st.group) if st.group else innermost(st.submitted)
        if sp is not None:
            sp.stages.append(st)
    window_jobs: dict[int, int] = {}
    for t, group in job_times:
        if group is None:
            sp = innermost(t)
            if sp is not None:
                window_jobs[sp.id] = window_jobs.get(sp.id, 0) + 1
    return window_jobs


def span_totals(tracer: Tracer, sp: Span, window_jobs: dict[int, int]) -> dict:
    """Totals over a span and its descendants: jobs, shuffle MB written,
    disk spill MB, input rows, and the task skew (max ÷ median task run
    time) of the stage with the most task time."""
    tree = tracer.subtree(sp)
    stages = [st for s in tree for st in s.stages]
    jobs = sum(s.jobs + window_jobs.get(s.id, 0) for s in tree)
    skew = 1.0
    multi = [st for st in stages if len(st.task_ms) >= 2]
    if multi:
        top = max(multi, key=lambda st: sum(st.task_ms))
        med = statistics.median(top.task_ms)
        skew = max(top.task_ms) / med if med > 0 else 1.0
    return {
        "jobs": jobs,
        "shuffle_mb": sum(st.shuffle_write for st in stages) / 1e6,
        "spill_mb": sum(st.spill_disk for st in stages) / 1e6,
        "input_rows": sum(st.records_read for st in stages),
        "task_skew": skew,
        "udf_s": sum(s.udf_s for s in tree),
    }
