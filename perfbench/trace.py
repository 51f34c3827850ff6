"""Spans around calls into the package's layers, timed from outside.

Each span is also a Spark job group, so after the span ends the status
tracker tells how many jobs, stages and tasks ran inside it. Spans are kept
in memory and written out when the run ends. A span's layer is the first
dotted part of its name (``operators.flat_store.get_document`` belongs to
``operators``); Spark actions get their own ``spark.*`` child spans, so
a store span's self time is the work done before Spark executes.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    phase: str = ""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    extra_groups: list[str] = field(default_factory=list)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its child
    spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.seconds - _covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Layer -> summed self time of its spans."""
    out: dict[str, float] = {}
    own = self_times(spans)
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + own[s.id]
    return out


def inclusive_work(spans: list[Span]) -> dict[int, tuple[int, int, int]]:
    """Span id -> (jobs, stages, tasks) of the span and its descendants.
    A child is always created after its parent, so one pass in reverse
    creation order folds every subtree into its root."""
    out = {s.id: (s.jobs, s.stages, s.tasks) for s in spans}
    for s in sorted(spans, key=lambda s: s.id, reverse=True):
        if s.parent is not None:
            j, st, t = out[s.id]
            pj, pst, pt = out[s.parent]
            out[s.parent] = (pj + j, pst + st, pt + t)
    return out


def _active_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


def _spark_work(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the status tracker holds for a job group."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        jobs += 1
        for stage_id in info.stageIds:
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return jobs, stages, tasks


class Tracer:
    """Records spans while ``enabled``; otherwise ``span`` costs nothing
    and yields ``None``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.phase = ""
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span = Span(
            id=len(self.spans),
            name=name,
            start=time.perf_counter(),
            parent=parent.id if parent else None,
            phase=self.phase,
        )
        self.spans.append(span)
        self._stack.append(span)
        sc = _active_context()
        if sc is not None:
            sc.setJobGroup(GROUP_PREFIX + str(span.id), name)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            sc = _active_context()
            if sc is not None:
                for group in [GROUP_PREFIX + str(span.id), *span.extra_groups]:
                    jobs, stages, tasks = _spark_work(sc, group)
                    span.jobs += jobs
                    span.stages += stages
                    span.tasks += tasks
                if parent is not None:
                    sc.setJobGroup(GROUP_PREFIX + str(parent.id), parent.name)
                else:
                    sc._jsc.clearJobGroup()

    @contextmanager
    def paused(self):
        """Run a block untraced (the interleaved untraced operations that
        the tracing overhead is measured against)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def to_json(self) -> list[dict]:
        own = self_times(self.spans)
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "phase": s.phase,
                "start": s.start,
                "end": s.end,
                "self_s": own[s.id],
                "spark_jobs": s.jobs,
                "spark_stages": s.stages,
                "spark_tasks": s.tasks,
            }
            for s in self.spans
        ]
