"""Spans for the traced run, and the Spark event-log join.

A span opens and closes around a call into one layer. Spans made by
the benchmark's own code wrap public calls directly; calls the engine
makes into its own lower layers (catalog reads, schema enforcement,
parquet sinks, asset checks) are observed by wrapping the module
attribute the caller looks up, for the life of the traced run only.
Each span sets the Spark job group to its id, so jobs started under
it carry the id in the event log; jobs started from worker threads
(which do not inherit the group) are attributed to the innermost span
open when they were submitted. Spans stay in memory and are joined
with the event log after the session stops.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield None

    def unpatch(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main: list[Span] = []
        self._patched: list[tuple] = []
        self.open_assets: dict[str, Span] = {}

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        stack = getattr(self._local, "stack", [])
        if len(stack) <= 1:
            # A worker thread with no span of its own open: its next
            # span hangs under the span the main thread has open now
            # (pool threads outlive the call that started them).
            stack = self._local.stack = self._main[-1:]
        return stack

    def open(self, name: str, **attrs) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            s = Span(f"s{next(self._ids)}", name,
                     parent.id if parent else None, time.time(),
                     attrs=attrs)
            self.spans.append(s)
        stack.append(s)
        self._sc.setJobGroup(s.id, name)
        return s

    def close(self, span: Span) -> None:
        """End ``span`` and any span still open above it."""
        stack = self._stack()
        if span not in stack:
            return
        now = time.time()
        while stack:
            top = stack.pop()
            top.end = top.end or now
            if top is span:
                break
        parent = stack[-1] if stack else None
        if parent is not None:
            self._sc.setJobGroup(parent.id, parent.name)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def patch(self, module, attr: str, name: str, on_call=None,
              after=None) -> None:
        """Replace ``module.attr`` with a wrapper that opens span
        ``name`` around each call. ``on_call(span, args, kwargs, run)``
        may take over the call to record attributes before and after
        it; ``run()`` performs the original call. ``after(args)`` runs
        once the span has closed, whether or not the call raised."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            try:
                with self.span(name) as s:
                    if on_call is None:
                        return orig(*args, **kwargs)
                    return on_call(s, args, kwargs,
                                   lambda: orig(*args, **kwargs))
            finally:
                if after is not None:
                    after(args)

        wrapper.__wrapped__ = orig
        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unpatch(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()


# ----------------------------------------------------------- event log

@dataclass
class Job:
    id: int
    group: str | None
    submitted: float
    stages: list[int]
    span: str | None = None


@dataclass
class Task:
    stage: int
    run_s: float
    sched_delay_s: float
    gc_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int
    failed: bool
    records_written: int
    bytes_written: int
    accum: dict


def read_event_log(log_dir: str) -> tuple[list[Job], list[Task]]:
    """Jobs and tasks from the (closed) Spark event log in ``log_dir``."""
    jobs, tasks = [], []
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "*"),
                             recursive=True))
    for path in filter(os.path.isfile, paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append(Job(ev["Job ID"],
                                    props.get("spark.jobGroup.id"),
                                    ev["Submission Time"] / 1000.0,
                                    list(ev.get("Stage IDs", []))))
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(_task(ev))
    return jobs, tasks


def _task(ev: dict) -> Task:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    out = m.get("Output Metrics", {})
    dur_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    run_ms = m.get("Executor Run Time", 0)
    overhead_ms = (m.get("Executor Deserialize Time", 0)
                   + m.get("Result Serialization Time", 0)
                   + info.get("Getting Result Time", 0))
    accum = {}
    for a in info.get("Accumulables", []):
        name, upd = a.get("Name"), a.get("Update")
        if name and isinstance(upd, (int, float, str)):
            try:
                accum[name] = accum.get(name, 0) + float(upd)
            except ValueError:
                pass
    return Task(
        stage=ev.get("Stage ID", -1),
        run_s=run_ms / 1000.0,
        sched_delay_s=max(dur_ms - run_ms - overhead_ms, 0) / 1000.0,
        gc_s=m.get("JVM GC Time", 0) / 1000.0,
        shuffle_read=sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        shuffle_write=sw.get("Shuffle Bytes Written", 0),
        spill=m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
        failed=info.get("Failed", False),
        records_written=out.get("Records Written", 0),
        bytes_written=out.get("Bytes Written", 0),
        accum=accum)


class EngineView:
    """Jobs and tasks attributed to spans (a span's totals include its
    descendants')."""

    def __init__(self, tracer: Tracer, jobs: list[Job], tasks: list[Task]):
        self.spans = {s.id: s for s in tracer.spans}
        order = sorted(tracer.spans, key=lambda s: s.start)
        for j in jobs:
            if j.group in self.spans:
                j.span = j.group
            else:
                inner = [s for s in order
                         if s.start <= j.submitted <= (s.end or 1e18)]
                j.span = inner[-1].id if inner else None
        self.jobs = jobs
        stage_job = {st: j for j in jobs for st in j.stages}
        self.tasks_by_job: dict[int, list[Task]] = {}
        for t in tasks:
            j = stage_job.get(t.stage)
            if j is not None:
                self.tasks_by_job.setdefault(j.id, []).append(t)

    def under(self, span_id: str | None, root: str) -> bool:
        while span_id is not None:
            if span_id == root:
                return True
            span_id = self.spans[span_id].parent
        return False

    def jobs_under(self, spans: list[Span]) -> list[Job]:
        roots = {s.id for s in spans}
        return [j for j in self.jobs
                if any(self.under(j.span, r) for r in roots)]

    def tasks_under(self, spans: list[Span]) -> list[Task]:
        return [t for j in self.jobs_under(spans)
                for t in self.tasks_by_job.get(j.id, [])]

    def stages_under(self, spans: list[Span]) -> int:
        return sum(len(j.stages) for j in self.jobs_under(spans))
