"""Span tracing around the benchmark's calls into the engine.

A span records its name (``layer.function[.plan|.exec]``), start, end,
parent span and request id.  While a span is open its id is the Spark
job group of the driver thread, so the jobs, stages, tasks and failed
tasks it launched are read back from ``SparkContext.statusTracker()``.
Spans stay in memory and are written as JSON lines at exit.

A disabled tracer hands out a scratch span and records nothing, so
timed runs go through the same code without touching Spark.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

SETUP = "bench.setup"  # root span of one set-up


class Span:
    __slots__ = ("sid", "name", "parent", "root", "req", "t0", "t1", "attrs",
                 "jobs", "stages", "tasks", "failed_tasks")

    def __init__(self, sid, name, parent, root, req):
        self.sid, self.name, self.parent, self.root, self.req = sid, name, parent, root, req
        self.t0 = self.t1 = 0.0
        self.attrs: dict = {}
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0

    @property
    def ms(self):
        return (self.t1 - self.t0) * 1000.0

    @property
    def layer(self):
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._unresolved: list[Span] = []
        self._sc = None
        self._n = 0

    def bind(self, sc):
        """Attach to a (new) SparkContext."""
        self._sc = sc

    @contextmanager
    def span(self, name, req=None):
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        if req is None and parent is not None:
            req = parent.req
        s = Span(f"sp{self._n}", name, parent.sid if parent else None,
                 parent.root if parent else name, req)
        if not self.enabled:
            s.t0 = time.perf_counter()
            try:
                yield s
            finally:
                s.t1 = time.perf_counter()
            return
        self._set_group(s)
        self._stack.append(s)
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)
            if self._sc is not None:
                self._unresolved.append(s)

    def _set_group(self, s):
        if self._sc is None:
            return
        if s is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(s.sid, s.name)

    def resolve(self):
        """Read Spark job/stage/task counts for finished spans.  Call
        before the bound SparkContext stops."""
        if self._sc is None or not self._unresolved:
            return
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self._sc.statusTracker()
        for s in self._unresolved:
            for jid in st.getJobIdsForGroup(s.sid):
                job = st.getJobInfo(jid)
                if job is None:
                    continue
                s.jobs += 1
                for sid in job.stageIds:
                    stage = st.getStageInfo(sid)
                    if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                        continue  # skipped (reused shuffle output)
                    s.stages += 1
                    s.tasks += stage.numCompletedTasks
                    s.failed_tasks += stage.numFailedTasks
        self._unresolved.clear()

    def write(self, path):
        base = self.spans[0].t0 if self.spans else 0.0
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.sid, "name": s.name, "parent": s.parent, "root": s.root, "req": s.req,
                    "start_ms": round((s.t0 - base) * 1000.0, 3),
                    "end_ms": round((s.t1 - base) * 1000.0, 3),
                    "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks,
                    "failed_tasks": s.failed_tasks, **s.attrs,
                }) + "\n")

    # ------------------------------------------------------------ report

    def named(self, name):
        """Spans called ``name``: those inside timed operations if there
        are any, else those made during set-up."""
        hits = [s for s in self.spans if s.name == name]
        ops = [s for s in hits if s.root != SETUP]
        return ops or hits

    def median_ms(self, name):
        v = [s.ms for s in self.named(name)]
        return statistics.median(v) if v else 0.0

    def per_call(self, name, field, parts=("",)):
        """Mean of ``field`` per call of ``name``, a call being one span
        of each listed suffix (e.g. ``.plan`` + ``.exec``)."""
        calls = len(self.named(name + parts[0]))
        if not calls:
            return 0.0
        total = sum(getattr(s, field) for p in parts for s in self.named(name + p))
        return total / calls

    def attr_mean(self, name, key):
        v = [s.attrs[key] for s in self.named(name) if key in s.attrs]
        return statistics.fmean(v) if v else 0.0

    def self_ms_by_layer(self, roots):
        """Total self time per layer over the subtrees of ``roots``: a
        span's duration minus the time its child spans cover."""
        children: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}

        def walk(s):
            kids = children.get(s.sid, [])
            out[s.layer] = out.get(s.layer, 0.0) + s.ms - sum(k.ms for k in kids)
            for k in kids:
                walk(k)

        for r in roots:
            walk(r)
        return out
