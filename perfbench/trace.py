"""Traced-run instrumentation, kept entirely in the benchmark's own files.

* Spans: `Tracer.wrap` replaces a public function or method of a program
  module with a wrapper that records (id, name, start, end, parent) in
  memory.  Nothing under ``rdflib_r2r_spark/`` is edited; the wrappers are
  installed on the imported modules for the life of the traced process.
* Job attribution: spans marked ``jobs=True`` set the Spark local property
  ``perfbench.span`` while they run, so every job they submit carries the
  innermost such span in its ``JobStart`` properties.  Each timed operation
  runs under its own ``perfbench.op`` property.
* Execution metrics come from Spark's own event log (``TaskEnd``: executor
  run time, GC, shuffle write, spill) and status tracker (job, stage and
  task counts).  The event log is switched on by launch config only.
"""

from __future__ import annotations

import functools
import glob
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"
OP_PROP = "perfbench.op"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


@dataclass
class Tracer:
    sc: object
    spans: list[Span] = field(default_factory=list)
    counts: dict = field(default_factory=lambda: defaultdict(int))
    captured: dict = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)
    _job_span: list[str] = field(default_factory=list)
    _patches: list = field(default_factory=list)
    op: str | None = None
    # time.time() - time.perf_counter(): maps event-log epoch times onto spans
    epoch: float = field(default_factory=lambda: time.time() - time.perf_counter())

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self.op)
        self.spans.append(s)
        self._stack.append(sid)
        if jobs:
            self._job_span.append(f"{sid}:{name}")
            self.sc.setLocalProperty(SPAN_PROP, self._job_span[-1])
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if jobs:
                self._job_span.pop()
                self.sc.setLocalProperty(SPAN_PROP, self._job_span[-1] if self._job_span else None)

    def wrap(self, owner, attr: str, name: str, jobs: bool = False, capture: bool = False):
        """Record a span around every call of ``owner.attr``; with
        ``capture`` keep the last return value under ``name``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer.span(name, jobs=jobs):
                out = orig(*a, **kw)
            tracer.counts[f"{name}.calls"] += 1
            if capture:
                tracer.captured[name] = out
            return out

        if isinstance(owner, type):
            # keep staticmethod/classmethod descriptors intact
            raw = owner.__dict__.get(attr)
            if isinstance(raw, (staticmethod, classmethod)):
                wrapper = type(raw)(wrapper)
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    @contextmanager
    def operation(self, op: str):
        """Tag the spans and jobs of one timed operation."""
        self.op = op
        self.sc.setLocalProperty(OP_PROP, op)
        try:
            yield
        finally:
            self.sc.setLocalProperty(OP_PROP, None)
            self.op = None

    # -- span arithmetic -------------------------------------------------------

    def total_ms(self, name: str) -> float:
        """Wall of the outermost spans called ``name`` (a recursive or
        nested call of the same layer is not counted twice)."""
        total = 0.0
        for s in self.spans:
            if s.name != name:
                continue
            p = s.parent
            nested = False
            while p is not None:
                if self.spans[p].name == name:
                    nested = True
                    break
                p = self.spans[p].parent
            if not nested:
                total += s.end - s.start
        return total * 1000.0

    def count_within(self, inner: str, outer: str) -> int:
        n = 0
        for s in self.spans:
            if s.name != inner:
                continue
            p = s.parent
            while p is not None and self.spans[p].name != outer:
                p = self.spans[p].parent
            n += p is not None
        return n

    def self_ms(self) -> dict[str, float]:
        """Per span name: duration minus the part its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start - child[s.id]) * 1000.0
        return dict(out)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class JobRecord:
    id: int
    op: str | None
    span: str | None
    start_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, JobRecord]
    stage_job: dict[int, int]
    task_metrics: dict[int, dict]  # job id -> summed task metrics

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        files = sorted(glob.glob(f"{log_dir}/*"))
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        jobs: dict[int, JobRecord] = {}
        stage_job: dict[int, int] = {}
        metrics: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = JobRecord(ev["Job ID"], props.get(OP_PROP), props.get(SPAN_PROP),
                                  ev["Submission Time"])
                    for st in ev.get("Stage Infos", []):
                        j.stages.append(st["Stage ID"])
                        stage_job[st["Stage ID"]] = j.id
                    jobs[j.id] = j
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if jid is None or tm is None:
                        continue
                    m = metrics[jid]
                    m["tasks"] += 1
                    m["executor_run_ms"] += tm.get("Executor Run Time", 0)
                    m["gc_ms"] += tm.get("JVM GC Time", 0)
                    m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        return cls(jobs, stage_job, metrics)

    def summary(self, jobs: list[JobRecord]) -> dict[str, float]:
        out = defaultdict(float)
        for j in jobs:
            for k, v in self.task_metrics.get(j.id, {}).items():
                out[k] += v
        out["exec_ms"] = union_length([(j.start_ms, j.end_ms) for j in jobs if j.end_ms])
        out["jobs"] = len(jobs)
        return dict(out)


def status_counts(sc, group: str) -> dict[str, int]:
    """Job, stage and task counts of one job group from the status tracker
    (which works with the UI off and needs no event log)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    listed = stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        listed += len(info.stageIds)
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            # a stage whose output a previous job already produced is
            # skipped: it is listed but never submitted (numTasks stays set,
            # no task runs), so count only stages that ran a task
            if si is not None and si.numCompletedTasks + si.numFailedTasks + si.numActiveTasks > 0:
                stages += 1
                tasks += si.numTasks
    return {"jobs": len(jobs), "stages": stages, "stages_listed": listed, "tasks": tasks}
