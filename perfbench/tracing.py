"""Spans, job counters and Spark event-log attribution.

Everything here lives in the benchmark: spans are recorded around the
benchmark's own calls into the library's public functions and plug
points (source, saver, sink, writers, query functions), never inside the
library. With tracing off, :class:`Tracer` records nothing and touches
no Spark API, so untraced runs measure the program alone.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds (joins the event log's millisecond clock)
    end: float
    parent: int | None
    request: str | None
    jobs: int = 0  # statusTracker job-id delta over the span

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span recorder, written out once when the run ends."""

    def __init__(self, spark=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._tracker = spark.sparkContext.statusTracker() if enabled else None

    def last_job_id(self) -> int:
        """Highest job id Spark has assigned outside any job group (the
        statusTracker counter; -1 before the first job)."""
        ids = self._tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        sp = Span(
            id=len(self.spans),
            name=name,
            start=time.time(),
            end=0.0,
            parent=parent.id if parent else None,
            request=request,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        j0 = self.last_job_id()
        try:
            yield sp
        finally:
            sp.jobs = self.last_job_id() - j0
            sp.end = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: Span | None,
            request: str | None = None) -> Span:
        """Record a span whose bounds were observed elsewhere (plug-point
        timestamps, or Structured Streaming progress reports)."""
        sp = Span(len(self.spans), name, start, end,
                  parent.id if parent else None, request)
        if self.enabled:
            self.spans.append(sp)
        return sp

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of its interval its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _covered(
                [(c.start, c.end) for c in kids.get(s.id, [])], s.start, s.end
            )
            out[s.name] = out.get(s.name, 0.0) + s.ms - covered * 1000.0
        return out

    def dump(self, path: str) -> None:
        self_ms = self.self_ms()
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [s.__dict__ for s in self.spans],
                    "self_ms_by_name": self_ms,
                },
                fh,
            )


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- Spark event log -------------------------------------------------------


@dataclass
class JobStats:
    id: int
    submit: float  # epoch seconds
    end: float
    stages: set = field(default_factory=set)  # stages that ran tasks
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    input_records: int = 0


def event_log_conf(log_dir: str) -> dict[str, str]:
    """A single plain-JSON event log file under ``log_dir``: no
    compression, no rolling, local filesystem."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
    }


def read_event_log(log_dir: str, app_id: str) -> list[JobStats]:
    """Jobs with their task totals, from application ``app_id``'s event
    log in ``log_dir`` (read after the session stopped, so it is complete)."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    with open(os.path.join(log_dir, app_id)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                j = JobStats(ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0)
                jobs[j.id] = j
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, j.id)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if j is None or not m:
                    continue
                j.stages.add(ev["Stage ID"])
                j.tasks += 1
                j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                j.gc_s += m.get("JVM GC Time", 0) / 1000.0
                rd = m.get("Shuffle Read Metrics", {})
                j.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                j.shuffle_write += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                j.input_records += m.get("Input Metrics", {}).get(
                    "Records Read", 0
                )
    return sorted(jobs.values(), key=lambda j: j.id)


def jobs_in(jobs: list[JobStats], start: float, end: float) -> list[JobStats]:
    """Jobs submitted inside the wall-clock window [start, end]."""
    return [j for j in jobs if start <= j.submit <= end]


def totals(jobs: list[JobStats]) -> dict[str, float]:
    return {
        "jobs": len(jobs),
        "stages": sum(len(j.stages) for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "cpu_s": sum(j.cpu_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "shuffle_read": sum(j.shuffle_read for j in jobs),
        "shuffle_write": sum(j.shuffle_write for j in jobs),
        "input_records": sum(j.input_records for j in jobs),
    }


def window_totals(jobs: list[JobStats], windows: list[tuple[float, float]]) -> dict[str, float]:
    """Event-log totals over the jobs submitted inside any of the windows."""
    seen = {j.id: j for s, e in windows for j in jobs_in(jobs, s, e)}
    return totals(list(seen.values()))


def driver_only_ratio(jobs: list[JobStats], windows: list[tuple[float, float]]) -> float:
    """Share of the windows' wall time during which no Spark job was
    running: time the Spark driver spent in Python, py4j and planning."""
    total = sum(e - s for s, e in windows)
    busy = sum(_covered([(j.submit, j.end or e) for j in jobs], s, e) for s, e in windows)
    return 1.0 - busy / total if total > 0 else 0.0
