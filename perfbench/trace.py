"""Spans around public calls, joined to Spark's event log.

A span is (id, parent, name, start, end). While a span is open its id is
the thread's Spark job group, so every job the call launches carries
``spark.jobGroup.id = <span id>`` in the event log; after the run the
log's job, stage and task records are joined back to spans through that
property. Spans stay in memory and are written out when the run ends.
With tracing off every method is a no-op.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    parent: str | None
    name: str
    start_ns: int
    end_ns: int = 0

    @property
    def ms(self) -> float:
        return (self.end_ns - self.start_ns) / 1e6


@dataclass
class Job:
    id: int
    group: str | None
    start_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    shuffle_bytes: float = 0.0
    result_bytes: float = 0.0


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, list[float]] = {}
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"span-{len(self.spans)}", parent.id if parent else None,
                 name, time.time_ns())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.id, name)
        try:
            yield
        finally:
            s.end_ns = time.time_ns()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters.setdefault(name, []).append(float(value))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "counters": self.counters}, fh)


# ------------------------------------------------------------------ #
# Event log                                                           #
# ------------------------------------------------------------------ #

_ACC = {
    "internal.metrics.executorRunTime": ("executor_run_ms", 1.0),
    "internal.metrics.executorCpuTime": ("executor_cpu_ms", 1e-6),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_bytes", 1.0),
    "internal.metrics.resultSize": ("result_bytes", 1.0),
}


def read_event_log(path: str) -> tuple[dict[int, Job], dict[int, StageTotals]]:
    """Jobs (with their job group) and per-stage totals of completed
    stages, from an uncompressed Spark event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], props.get("spark.jobGroup.id"),
                    ev["Submission Time"], stage_ids=list(ev["Stage IDs"]),
                )
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info.get("Failure Reason"):
                    continue
                st = stages.setdefault(info["Stage ID"], StageTotals())
                st.stages += 1
                st.tasks += info["Number of Tasks"]
                for acc in info.get("Accumulables", []):
                    name = _ACC.get(acc.get("Name"))
                    if name is not None:
                        attr, scale = name
                        setattr(st, attr, getattr(st, attr)
                                + float(acc["Value"]) * scale)
    return jobs, stages


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Joined:
    """Spans with their jobs and stage totals attached."""

    def __init__(self, tracer: Tracer, jobs: dict[int, Job],
                 stages: dict[int, StageTotals]):
        self.spans = tracer.spans
        self.counters = tracer.counters
        self.children: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)
        self.jobs_of: dict[str, list[Job]] = {}
        for j in sorted(jobs.values(), key=lambda j: j.id):
            if j.group is not None:
                self.jobs_of.setdefault(j.group, []).append(j)
        # A stage runs in the first job that lists it; later jobs that
        # reuse its shuffle output list it as skipped.
        self.stage_owner: dict[int, int] = {}
        for j in sorted(jobs.values(), key=lambda j: j.id):
            for sid in j.stage_ids:
                self.stage_owner.setdefault(sid, j.id)
        self.stages = stages

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children.get(x.id, []))
        return out

    def jobs(self, s: Span) -> list[Job]:
        return [j for x in self.subtree(s) for j in self.jobs_of.get(x.id, [])]

    def self_ms(self, s: Span) -> float:
        kids = [(c.start_ns / 1e6, c.end_ns / 1e6)
                for c in self.children.get(s.id, [])]
        return s.ms - _union_ms(kids)

    def driver_only_ms(self, s: Span) -> float:
        """Span time not covered by any of its jobs."""
        iv = [(j.start_ms, j.end_ms) for j in self.jobs(s)]
        return s.ms - _union_ms(iv)

    def stage_totals(self, s: Span) -> StageTotals:
        tot = StageTotals()
        job_ids = {j.id for j in self.jobs(s)}
        for sid, owner in self.stage_owner.items():
            if owner in job_ids and sid in self.stages:
                st = self.stages[sid]
                for k in asdict(tot):
                    setattr(tot, k, getattr(tot, k) + getattr(st, k))
        return tot

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def median_ms(self, name: str) -> float:
        return _median([s.ms for s in self.named(name)])

    def median_jobs(self, name: str) -> float:
        return _median([len(self.jobs(s)) for s in self.named(name)])

    def counter_mean(self, name: str) -> float:
        xs = self.counters.get(name, [])
        return sum(xs) / len(xs) if xs else 0.0
