"""Span recorder for the traced run.

Spans are recorded from the benchmark's own files only: ``Tracer.patch``
replaces a public function *where the caller looks it up* (module
attribute or class attribute) with a wrapper that opens a span around
the call. Spans nest per thread, so a ``TableStore`` verb that calls
another public verb records a child span, and a layer's self time is its
span's duration minus the time its children cover. Jobs and tasks per
operation come from ``SparkContext.setJobGroup(op_id)`` plus the status
tracker. Everything stays in memory until ``dump``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str | None
    self_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object | None]] = []
        self.op_id: str | None = None
        self.jobs: dict[str, tuple[int, int]] = {}

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        idx = len(self.spans)
        sp = Span(name, time.perf_counter(), 0.0, stack[-1] if stack else None, self.op_id)
        self.spans.append(sp)
        stack.append(idx)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    @contextlib.contextmanager
    def op(self, op_id: str, name: str):
        """One benchmark operation: a top-level span whose Spark jobs are
        grouped under ``op_id`` so jobs and tasks can be counted after."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self.op_id = op_id
        sc.setJobGroup(op_id, name, interruptOnCancel=False)
        try:
            with self.span(name):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.op_id = None
            self.jobs[op_id] = self._count_jobs(op_id)

    def _count_jobs(self, op_id: str) -> tuple[int, int]:
        st = self.spark.sparkContext.statusTracker()
        job_ids = st.getJobIdsForGroup(op_id)
        tasks = 0
        for jid in job_ids:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        return len(job_ids), tasks

    # -- patching ---------------------------------------------------------
    def patch(self, owner, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` (a module function or a class method) so
        each call records a span called ``name``."""
        if not self.enabled:
            return
        own = attr in vars(owner)
        orig = vars(owner)[attr] if own else getattr(owner, attr)
        fn = orig.__func__ if isinstance(orig, staticmethod) else orig
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)

        if isinstance(orig, staticmethod):
            wrapper = staticmethod(wrapper)
        self._patched.append((owner, attr, orig if own else None))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patched.clear()

    # -- analysis ---------------------------------------------------------
    def finish(self) -> None:
        """Compute every span's self time: its duration minus the union
        of its direct children's intervals."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        for i, sp in enumerate(self.spans):
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(children.get(i, ()), key=lambda s: s.start):
                if cur_e is None or c.start > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = c.start, c.end
                else:
                    cur_e = max(cur_e, c.end)
            if cur_e is not None:
                covered += cur_e - cur_s
            sp.self_s = max(sp.dur - covered, 0.0)

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        return [s.dur for s in self.spans if s.name == name and s.start >= since]

    def layer_self_s(self, since: float = 0.0) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            if s.start >= since:
                layer = s.name.split(".", 1)[0]
                out[layer] = out.get(layer, 0.0) + s.self_s
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"name": s.name, "start": s.start, "end": s.end,
                         "parent": s.parent, "op_id": s.op_id, "self_s": s.self_s}
                        for s in self.spans
                    ],
                    "jobs": {k: {"jobs": v[0], "tasks": v[1]} for k, v in self.jobs.items()},
                },
                f,
            )
