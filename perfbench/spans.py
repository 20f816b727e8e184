"""In-memory spans around calls into the engine's layers.

A span records its name, start, end, parent span and the iteration id
shared by the spans of one request. Under tracing each span also runs
its calls under a Spark job group of its own and, on exit, counts the
Spark jobs, stages and tasks it launched through
``SparkContext.statusTracker()``. Jobs the engine launches from its own
helper threads carry no job group (a Python thread does not pass its
group to the JVM thread behind another Python thread), so a span also
claims the group-less jobs that appeared while it was open; one client
thread means nothing else can have launched them.

Spans stay in memory; :meth:`Tracer.dump` writes them out at exit.
``Tracer(None)`` records nothing and costs one context-manager call.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time

_GROUP_KEY = "spark.jobGroup.id"


class Span:
    __slots__ = ("sid", "name", "parent", "iteration", "start", "end",
                 "jobs", "stages", "tasks", "attrs", "_group", "_ungrouped")

    def __init__(self, sid, name, parent, iteration, start):
        self.sid, self.name, self.parent = sid, name, parent
        self.iteration, self.start, self.end = iteration, start, None
        self.jobs: set[int] = set()
        self.stages = self.tasks = 0
        self.attrs: dict = {}

    @property
    def duration(self) -> float:
        return self.end - self.start

    def to_dict(self) -> dict:
        return {"id": self.sid, "name": self.name, "parent": self.parent,
                "iteration": self.iteration, "start": self.start,
                "end": self.end, "spark_jobs": len(self.jobs),
                "spark_stages": self.stages, "spark_tasks": self.tasks,
                **self.attrs}


class Tracer:
    """Span recorder; ``sc`` is the SparkContext, or None to disable."""

    def __init__(self, sc, t0: float | None = None):
        self.sc = sc
        self.enabled = sc is not None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.t0 = time.perf_counter() if t0 is None else t0

    def record(self, name: str, start: float, end: float,
               iteration: int = 0) -> None:
        """Add a finished span timed by the caller (``perf_counter``
        values), e.g. one that ran before the Spark session existed."""
        if self.enabled:
            sp = Span(next(self._ids), name, None, iteration,
                      start - self.t0)
            sp.end = end - self.t0
            self.spans.append(sp)

    @contextlib.contextmanager
    def span(self, name: str, iteration: int | None = None):
        """Time the body as span ``name``; yields the span (or None)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if iteration is None and parent is not None:
            iteration = parent.iteration
        sp = Span(next(self._ids), name, parent.sid if parent else None,
                  iteration, time.perf_counter() - self.t0)
        sp._group = f"perfbench-{sp.sid}"
        self._drain()
        sp._ungrouped = self._ungrouped_jobs()
        self.sc.setJobGroup(sp._group, name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter() - self.t0
            self._stack.pop()
            self.sc.setLocalProperty(
                _GROUP_KEY, parent._group if parent else None)
            self._count(sp)
            if parent is not None:
                parent.jobs |= sp.jobs
            self.spans.append(sp)

    def _drain(self) -> None:
        # the status store is fed by the asynchronous listener bus; wait
        # until it has seen every event of the jobs that already ended
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def _ungrouped_jobs(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def _count(self, sp: Span) -> None:
        self._drain()
        st = self.sc.statusTracker()
        sp.jobs |= set(st.getJobIdsForGroup(sp._group))
        sp.jobs |= self._ungrouped_jobs() - sp._ungrouped
        for j in sp.jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks:
                    sp.stages += 1
                    sp.tasks += si.numCompletedTasks

    def of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sorted((c.start, c.end) for c in self.spans
                      if c.parent == sp.sid)
        covered, lo, hi = 0.0, None, None
        for a, b in kids:
            a, b = max(a, sp.start), min(b, sp.end)
            if hi is None or a > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = a, b
            else:
                hi = max(hi, b)
        if hi is not None:
            covered += hi - lo
        return sp.duration - covered

    def dump(self, path: str, extra: dict) -> None:
        rows = []
        for sp in self.spans:
            d = sp.to_dict()
            d["self"] = self.self_time(sp)
            rows.append(d)
        with open(path, "w") as f:
            json.dump({**extra, "spans": rows}, f, indent=1, sort_keys=True)
