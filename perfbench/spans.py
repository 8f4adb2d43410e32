"""Spans at layer boundaries, kept in memory and dumped at exit.

A span is (id, name, start, end, parent, run). Entering a span also sets
the Spark job group to ``<name>#<run>``, so every job a layer starts is
attributable to it; :meth:`Tracer.stage_metrics` then sums the stage
metrics of those jobs from Spark's AppStatusStore.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: int


class NoTrace:
    """Stand-in with the tracer's interface that records nothing."""

    @contextlib.contextmanager
    def span(self, name: str, start: float | None = None):
        yield


class Tracer:
    def __init__(self):
        #: the SparkContext, once a session exists; job groups need it
        self.sc = None
        self.run = 0
        self.spans: list[Span] = []
        self._stack: list[tuple[int, str]] = []
        self._next = 0

    def _group(self, name: str | None) -> None:
        if self.sc is None:
            return
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{name}#{self.run}", name)

    @contextlib.contextmanager
    def span(self, name: str, start: float | None = None):
        """Time the block as layer ``name``; ``start`` back-dates the span
        to work done before the block (e.g. before a SparkContext existed
        to carry the job group)."""
        sid, self._next = self._next, self._next + 1
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((sid, name))
        self._group(name)
        start = time.perf_counter() if start is None else start
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1][1] if self._stack else None)
            self.spans.append(Span(sid, name, start, end, parent, self.run))

    def layer_times(self, run: int) -> dict[str, dict[str, float]]:
        """Per layer name: ``busy_s`` (summed span time) and ``self_s``
        (busy minus the time its child spans cover) for one run."""
        spans = [s for s in self.spans if s.run == run]
        child_time: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.end - s.start
        out: dict[str, dict[str, float]] = {}
        for s in spans:
            t = out.setdefault(s.name, {"busy_s": 0.0, "self_s": 0.0})
            t["busy_s"] += s.end - s.start
            t["self_s"] += s.end - s.start - child_time.get(s.id, 0.0)
        return out

    def stage_metrics(self, name: str, run: int) -> dict[str, float]:
        """Stage metrics summed over the jobs of job group ``name#run``."""
        sc = self.sc
        stage_ids = set()
        for job in sc.statusTracker().getJobIdsForGroup(f"{name}#{run}"):
            info = sc.statusTracker().getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"task_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
               "spill_mb": 0.0, "failed_tasks": 0}
        if not stage_ids:
            return out
        store = sc._jsc.sc().statusStore()
        # Spark 4.1: stageList(statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus); null statuses = every stage
        stages = store.stageList(None, False, False,
                                 sc._gateway.new_array(sc._jvm.double, 0), None)
        it = stages.iterator()
        while it.hasNext():
            st = it.next()
            if st.stageId() not in stage_ids:
                continue
            out["task_s"] += st.executorRunTime() / 1e3
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
            out["failed_tasks"] += st.numFailedTasks()
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
