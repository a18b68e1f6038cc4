"""Spans around the calls into the engine's modules, and Spark's own
event log, for the traced run.

Spans are recorded only from the benchmark's files: ``Patches``
replaces a callable where its consumer looks it up (``pipeline``
imports ``list_source_objects`` by name, so the wrapper must replace
``etly_spark.pipeline.list_source_objects``, not the one in
``sources.storage``) and restores every original on exit. Spark work is
attributed to a phase by job submission time, read from the event log
after the session stops: job-group counting misses jobs fired from
driver pool threads, which do not inherit the group.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # time.time(), comparable with the event log's epoch ms
    end: float = 0.0
    parent: Span | None = None
    child_time: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        """Duration minus the part covered by child spans (children of
        one span run on its thread, one after another)."""
        return self.duration - self.child_time


class Tracer:
    """Spans kept in memory; each thread has its own stack, so spans
    opened from the engine's window pool nest under nothing of the
    caller's thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._tls = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def open(self, name: str) -> Span:
        stack = self._stack()
        sp = Span(name, time.time(), parent=stack[-1] if stack else None)
        stack.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        stack = self._stack()
        stack.pop()
        if sp.parent is not None:
            sp.parent.child_time += sp.duration
        with self._lock:
            self.spans.append(sp)

    @contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    def self_total(self, name: str) -> float:
        return sum(s.self_time for s in self.spans if s.name == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)


class Patches:
    """Context manager that wraps callables in spans and puts the
    originals back on exit."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str, on_result=None, only_from: str | None = None):
        """Replace ``owner.attr`` with a spanned wrapper. ``on_result``
        sees each return value (for counts); ``only_from`` restricts
        the span to calls made directly from a function of that name."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw
        tracer = self.tracer

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if only_from is not None:
                if sys._getframe(1).f_code.co_name != only_from:
                    return fn(*args, **kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)
        self._undo.append((owner, attr, raw))
        return self

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        for owner, attr, raw in reversed(self._undo):
            setattr(owner, attr, raw)
        self._undo.clear()
        return False


# -------------------------------------------------------- event log --

# SQL metrics every Python exec node publishes (PythonSQLMetrics)
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_TIME = "time to run Python workers"
PY_ROWS = "number of output rows"


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    input_bytes: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    accums: dict[int, int]


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    py_accums: dict[int, tuple[str, str]] = field(default_factory=dict)  # id -> (metric, type)

    @classmethod
    def read(cls, log_dir: str) -> EventLog:
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        log = cls()
        for path in files:
            with open(path) as f:
                for line in f:
                    log._event(json.loads(line))
        return log

    def _plan(self, node: dict) -> None:
        metrics = {m["name"]: m for m in node.get("metrics", [])}
        if PY_SENT in metrics:
            for name in (PY_SENT, PY_RECEIVED, PY_TIME, PY_ROWS):
                m = metrics.get(name)
                if m is not None:
                    self.py_accums[m["accumulatorId"]] = (name, m.get("metricType", "sum"))
        for child in node.get("children", []):
            self._plan(child)

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"], stages=list(ev["Stage IDs"]))
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            self.tasks.append(
                Task(
                    stage=ev["Stage ID"],
                    launch_ms=info["Launch Time"],
                    finish_ms=info["Finish Time"],
                    run_ms=m.get("Executor Run Time", 0),
                    cpu_ns=m.get("Executor CPU Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    shuffle_write=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    accums={
                        a["ID"]: int(a["Update"])
                        for a in info.get("Accumulables", [])
                        if isinstance(a.get("Update"), (int, str)) and str(a["Update"]).lstrip("-").isdigit()
                    },
                )
            )
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            self._plan(ev.get("sparkPlanInfo") or {})

    def jobs_in(self, windows: list[tuple[float, float]]) -> list[Job]:
        """Jobs submitted inside any of the (epoch seconds) windows."""
        bounds = [(a * 1000.0, b * 1000.0) for a, b in windows]
        return [j for j in self.jobs.values() if any(a <= j.submit_ms <= b for a, b in bounds)]

    def summary(self, jobs: list[Job]) -> dict[str, float]:
        """Spark-side totals over ``jobs`` and their tasks."""
        stage_job: dict[int, Job] = {s: j for j in jobs for s in j.stages}
        tasks = [t for t in self.tasks if t.stage in stage_job]
        stages = {t.stage for t in tasks}
        py = {PY_SENT: 0.0, PY_RECEIVED: 0.0, PY_TIME: 0.0, PY_ROWS: 0.0}
        for t in tasks:
            for acc, val in t.accums.items():
                hit = self.py_accums.get(acc)
                if hit is None:
                    continue
                name, mtype = hit
                scale = {"nsTiming": 1e-9, "timing": 1e-3}.get(mtype, 1.0)
                py[name] += val * scale
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": len(tasks),
            "spark.task_run_s": sum(t.run_ms for t in tasks) / 1e3,
            "spark.task_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
            "spark.gc_s": sum(t.gc_ms for t in tasks) / 1e3,
            "spark.input_bytes": sum(t.input_bytes for t in tasks),
            "spark.shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
            "spark.shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
            "spark.spill_bytes": sum(t.spill for t in tasks),
            "spark.dispatch_s": dispatch_seconds(jobs, tasks, stage_job),
            "python.rows_received": py[PY_ROWS],
            "python.bytes_sent": py[PY_SENT],
            "python.bytes_received": py[PY_RECEIVED],
            "python.task_run_s": py[PY_TIME],
        }


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def dispatch_seconds(jobs: list[Job], tasks: list[Task], stage_job: dict[int, Job]) -> float:
    """Job wall time during which none of the job's tasks was running:
    scheduling, stage submission and result handling on the driver."""
    per_job: dict[int, list[tuple[float, float]]] = {}
    for t in tasks:
        per_job.setdefault(stage_job[t.stage].id, []).append((t.launch_ms, t.finish_ms))
    idle = 0.0
    for j in jobs:
        if not j.end_ms:
            continue
        wall = j.end_ms - j.submit_ms
        clipped = [(max(a, j.submit_ms), min(b, j.end_ms)) for a, b in per_job.get(j.id, [])]
        idle += max(0.0, wall - covered([(a, b) for a, b in clipped if b > a]))
    return idle / 1e3
