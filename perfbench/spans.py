"""Spans, the Spark event-log reader and span self time.

The benchmark times each public call it makes from the outside and records
it as a span (name, start, end, parent). In a traced run Spark also writes
its event log; :func:`read_event_log` turns the jobs and stages in it into
records that :func:`attach_jobs` hangs under the span that caused them:

- by job group, for calls that run on the benchmark's own thread (the span
  sets ``spark.jobGroup.id`` to its span id before the call);
- otherwise by time window: the innermost span whose interval holds the
  job's submission time. ``runner.run_scan`` submits its jobs from pool
  threads, which do not inherit the caller's job group.

All times are wall-clock seconds since the epoch, because the event log
stamps events with the JVM's ``System.currentTimeMillis``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """In-memory span recorder. Spans nest by a stack, so the benchmark's
    single client thread is the only thread that may open spans."""

    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(
            id=len(self.spans), name=name, start=self.clock(),
            parent=self._stack[-1].id if self._stack else None, attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def ancestor_map(self, roots: set[int]) -> dict[int, int]:
        """Span id -> the id of its nearest ancestor in ``roots``, for every
        span below one of them."""
        out: dict[int, int] = {}
        for s in self.spans:  # parents are always recorded before children
            if s.parent in roots:
                out[s.id] = s.parent
            elif s.parent in out:
                out[s.id] = out[s.parent]
        return out

    def to_json(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {
                "id": s.id, "name": s.name, "parent": s.parent,
                "start": s.start, "end": s.end,
                "self_s": selfs[s.id], **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in self.spans
        ]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's duration minus the part of its interval that its children
    cover (children may overlap each other; the union is subtracted once,
    and only the part inside the parent counts)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is None or s.end is None:
            continue
        p = by_id[s.parent]
        if p.end is None:
            continue
        a, b = max(s.start, p.start), min(s.end, p.end)
        if b > a:
            kids.setdefault(s.parent, []).append((a, b))
    return {
        s.id: max(0.0, s.seconds - _union_length(kids.get(s.id, [])))
        for s in spans
    }


def idle_seconds(start: float, end: float, busy: list[tuple[float, float]]) -> float:
    """Wall time inside [start, end] that no busy interval covers."""
    clipped = [(max(a, start), min(b, end)) for a, b in busy]
    return (end - start) - _union_length([(a, b) for a, b in clipped if b > a])


# --- event log ---------------------------------------------------------------

_STAGE_ACCUMS = {
    "internal.metrics.executorRunTime": "task_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
    "internal.metrics.input.bytesRead": "input",
    "internal.metrics.output.bytesWritten": "output",
    "internal.metrics.memoryBytesSpilled": "spill",
    "internal.metrics.diskBytesSpilled": "spill",
}


@dataclass
class Stage:
    id: int
    name: str
    start: float = 0.0
    end: float = 0.0
    tasks: int = 0
    rdds: tuple[str, ...] = ()
    metrics: dict[str, int] = field(default_factory=dict)
    peak_exec_mem: int = 0


@dataclass
class Job:
    id: int
    start: float
    end: float = 0.0
    group: str | None = None
    stage_ids: tuple[int, ...] = ()
    stages: list[Stage] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return max(0.0, self.end - self.start)

    @property
    def is_schema_job(self) -> bool:
        """A Parquet footer/schema job: the ``spark.read.parquet`` call site
        over a parallelized list of file statuses, not over a file scan."""
        return any(
            s.name.startswith("parquet at")
            and "ParallelCollectionRDD" in s.rdds
            and "FileScanRDD" not in s.rdds
            for s in self.stages
        )

    def total(self, metric: str) -> int:
        return sum(s.metrics.get(metric, 0) for s in self.stages)

    @property
    def tasks(self) -> int:
        return sum(s.tasks for s in self.stages)

    @property
    def peak_exec_mem(self) -> int:
        return max((s.peak_exec_mem for s in self.stages), default=0)


def event_log_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``: flat single-file logs, or the rolling
    format's ``eventlog_v2_*/events_<n>_*`` parts in part order."""
    paths = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    ]

    def order(p: str):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0, p)

    return sorted(paths, key=order)


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their stages, from every event file under ``log_dir``.
    Lines that are not JSON (a truncated last line) are skipped."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    stage_job: dict[int, int] = {}
    for path in event_log_files(log_dir):
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = Job(
                        id=ev["Job ID"],
                        start=ev["Submission Time"] / 1000.0,
                        group=(ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        stage_ids=tuple(ev.get("Stage IDs", [])),
                    )
                    jobs[job.id] = job
                    for info in ev.get("Stage Infos", []):
                        sid = info["Stage ID"]
                        stage_job[sid] = job.id
                        stages.setdefault(sid, Stage(
                            id=sid, name=info.get("Stage Name", ""),
                            rdds=tuple(r.get("Name", "") for r in info.get("RDD Info", [])),
                        ))
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], Stage(
                        id=info["Stage ID"], name=info.get("Stage Name", "")))
                    st.start = info.get("Submission Time", 0) / 1000.0
                    st.end = info.get("Completion Time", 0) / 1000.0
                    st.tasks = info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        key = _STAGE_ACCUMS.get(acc.get("Name", ""))
                        if key is not None and isinstance(acc.get("Value"), int):
                            st.metrics[key] = st.metrics.get(key, 0) + acc["Value"]
                elif kind == "SparkListenerTaskEnd":
                    st = stages.get(ev.get("Stage ID"))
                    peak = (ev.get("Task Metrics") or {}).get("Peak Execution Memory", 0)
                    if st is not None and isinstance(peak, int):
                        st.peak_exec_mem = max(st.peak_exec_mem, peak)
    for sid, jid in stage_job.items():
        if sid in stages and stages[sid].end:
            jobs[jid].stages.append(stages[sid])
    return sorted(jobs.values(), key=lambda j: j.id)


def attach_jobs(tracer: Tracer, jobs: list[Job]) -> dict[int, list[Job]]:
    """Map span id -> the jobs it caused (see the module docstring), and add
    each job, with its stages, to the tracer as child spans."""
    by_span: dict[int, list[Job]] = {}
    closed = [s for s in tracer.spans if s.end is not None]
    ids = {s.id for s in closed}
    for job in jobs:
        owner = None
        if job.group and job.group.startswith(GROUP_PREFIX):
            sid = int(job.group[len(GROUP_PREFIX):])
            owner = sid if sid in ids else None
        if owner is None:
            holding = [s for s in closed if s.start <= job.start <= s.end]
            if holding:
                owner = max(holding, key=lambda s: (s.start, s.id)).id
        if owner is None:
            continue
        by_span.setdefault(owner, []).append(job)
    for owner, owned in by_span.items():
        for job in owned:
            jspan = Span(
                id=len(tracer.spans), name="spark.job", start=job.start,
                end=job.end or job.start, parent=owner,
                attrs={"job": job.id, "schema_job": job.is_schema_job},
            )
            tracer.spans.append(jspan)
            for st in job.stages:
                tracer.spans.append(Span(
                    id=len(tracer.spans), name="spark.stage", start=st.start,
                    end=st.end, parent=jspan.id,
                    attrs={"stage": st.id, "tasks": st.tasks},
                ))
    return by_span


def jobs_under(tracer: Tracer, by_span: dict[int, list[Job]], span_id: int) -> list[Job]:
    """Jobs owned by ``span_id`` or by any benchmark span below it."""
    out = list(by_span.get(span_id, []))
    for child in tracer.children(span_id):
        if child.name not in ("spark.job", "spark.stage"):
            out.extend(jobs_under(tracer, by_span, child.id))
    return out
