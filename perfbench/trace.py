"""Spans around the benchmark's calls into the engine, and the offline
parser for Spark's JSON event log that attributes jobs, stages and
tasks to those spans.

A span is opened around one public call (``SuiteRunner.run``, a
registry query's construction, a materialisation, ...). While it is
open, every Spark job the driver thread submits carries the span id as
its job group (``sc.setJobGroup``), so the event log written by
``spark.eventLog.enabled`` can be joined back to the span after the
session stops. Spans live in memory until the run ends.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    span_id: str
    name: str
    parent: str | None
    run_id: str
    start: float  # epoch seconds (same clock as the event log's ms stamps)
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``enabled=False`` it records nothing and
    touches no Spark state, so untraced runs pay no tracing cost."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:8]
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            span_id=f"{self.run_id}-{len(self.spans)}",
            name=name,
            parent=parent.span_id if parent else None,
            run_id=self.run_id,
            start=time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(sp.span_id, sp.name)

    def descendants(self, sp: Span) -> list[Span]:
        """``sp`` and every span opened inside it."""
        out, frontier = [sp], {sp.span_id}
        for other in self.spans:
            if other.parent in frontier:
                out.append(other)
                frontier.add(other.span_id)
        return out

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.span_id]

    def dump(self, path: Path) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if b > start and a < end
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(tracer: Tracer, sp: Span) -> float:
    """Span duration minus the part of it that child spans cover."""
    kids = [(c.start, c.end) for c in tracer.children(sp)]
    return sp.duration - covered(sp.start, sp.end, kids)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Stage:
    stage_id: int
    submitted: float = 0.0  # epoch seconds
    completed: float = 0.0
    task_run_s: list[float] = field(default_factory=list)
    task_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_rows: int = 0


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float = 0.0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class SqlExec:
    exec_id: int
    start: float
    end: float = 0.0
    write_path: str | None = None  # target of InsertIntoHadoopFsRelationCommand


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]
    sql: dict[int, SqlExec]

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        """Stages that ran for ``jobs``. A shuffle stage reused by a later
        job (shown as skipped there) belongs to the first job listing it."""
        owner: dict[int, int] = {}
        for j in sorted(self.jobs.values(), key=lambda j: j.job_id):
            for s in j.stage_ids:
                owner.setdefault(s, j.job_id)
        ids = {j.job_id for j in jobs}
        return [
            st for sid, st in self.stages.items() if owner.get(sid) in ids
        ]


# the formatted plan's write node: "(n) Execute InsertIntoHadoopFsRelationCommand"
# followed by "Input: [...]" and "Arguments: file:/out/path, ..."
_WRITE_RE = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\n[^\n]*\nArguments: (?:file:)?([^,\s]+)"
)
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def parse_event_log(path: Path) -> EventLog:
    """Parse a Spark JSON event log (one event per line, uncompressed)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    sql: dict[int, SqlExec] = {}

    def stage(sid: int) -> Stage:
        return stages.setdefault(sid, Stage(sid))

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    job_id=ev["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    start=ev["Submission Time"] / 1000.0,
                    stage_ids=list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stage(info["Stage ID"])
                st.submitted = info.get("Submission Time", 0) / 1000.0
                st.completed = info.get("Completion Time", 0) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stage(ev["Stage ID"])
                st.task_run_s.append(m.get("Executor Run Time", 0) / 1000.0)
                st.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                st.input_rows += (m.get("Input Metrics") or {}).get("Records Read", 0)
            elif kind == _SQL_START:
                match = _WRITE_RE.search(ev.get("physicalPlanDescription", ""))
                sql[ev["executionId"]] = SqlExec(
                    exec_id=ev["executionId"],
                    start=ev["time"] / 1000.0,
                    write_path=match.group(1) if match else None,
                )
            elif kind == _SQL_END:
                if ev["executionId"] in sql:
                    sql[ev["executionId"]].end = ev["time"] / 1000.0
    return EventLog(jobs, stages, sql)


def find_event_log(log_dir: Path) -> Path:
    """The single finished application log in ``log_dir``."""
    logs = [p for p in log_dir.iterdir() if not p.name.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {logs}")
    return logs[0]


@dataclass
class SpanCost:
    """What Spark did on behalf of one span and everything inside it."""

    wall_s: float
    driver_s: float  # span wall time not covered by any of its Spark jobs
    jobs: int
    tasks: int
    task_run_s: float
    task_cpu_s: float
    shuffle_mb: float
    spill_mb: float
    input_rows: int
    task_skew: float  # max/median task run time in the longest stage


def span_cost(tracer: Tracer, log: EventLog, sp: Span) -> SpanCost:
    groups = {s.span_id for s in tracer.descendants(sp)}
    jobs = [j for j in log.jobs.values() if j.group in groups]
    stages = log.stages_of(jobs)
    tasks = [t for st in stages for t in st.task_run_s]
    busy = covered(sp.start, sp.end, [(j.start, j.end) for j in jobs])
    longest = max(stages, key=lambda st: st.completed - st.submitted, default=None)
    skew = 0.0
    if longest is not None and longest.task_run_s:
        med = statistics.median(longest.task_run_s)
        skew = max(longest.task_run_s) / med if med > 0 else 1.0
    mb = 1024.0 * 1024.0
    return SpanCost(
        wall_s=sp.duration,
        driver_s=sp.duration - busy,
        jobs=len(jobs),
        tasks=len(tasks),
        task_run_s=sum(tasks),
        task_cpu_s=sum(st.task_cpu_s for st in stages),
        shuffle_mb=sum(st.shuffle_write_bytes for st in stages) / mb,
        spill_mb=sum(st.spill_bytes for st in stages) / mb,
        input_rows=sum(st.input_rows for st in stages),
        task_skew=skew,
    )


def write_seconds(log: EventLog, sp: Span, sink_dir: str) -> float:
    """Wall time of the SQL executions inside ``sp`` that wrote ``sink_dir``."""
    want = sink_dir.rstrip("/")
    return sum(
        e.end - e.start
        for e in log.sql.values()
        if e.write_path is not None
        and e.write_path.rstrip("/").endswith(want)
        and sp.start <= e.start <= sp.end
    )
