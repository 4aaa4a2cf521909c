"""Span tracer for the traced run.

Wrappers patch public functions of the engine where their callers look them
up (``merge_into`` inside ``streaming.engine``, ``replace_buckets`` on
``LakeTable``, ...). Each call records a span (name, start, end, parent,
batch) in memory and runs under the Spark job group
``"{workload}:{batch}:{layer}"`` so Spark's status tracker attributes jobs
and tasks to layers. Spans are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from dataclasses import asdict, dataclass

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    batch: str


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[Span] = []
        self.groups: dict[str, list[str]] = {}  # batch -> job groups used
        self.active = False
        self.batch = "setup"
        self._stack = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ recording
    def span(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name`` (a no-op when inactive)."""
        if not self.active:
            return fn(*args, **kwargs)
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        group = f"{self.workload}:{self.batch}:{name.split('.')[0]}"
        self.groups.setdefault(self.batch, [])
        if group not in self.groups[self.batch]:
            self.groups[self.batch].append(group)
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, group)
        span = Span(name, time.time(), 0.0, stack[-1] if stack else None, self.batch)
        self.spans.append(span)
        stack.append(len(self.spans) - 1)
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.time()
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a traced wrapper (undone by ``unpatch``)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return self.span(name, orig, *args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------- analysis
    def of(self, name: str, batches=None) -> list[Span]:
        return [s for s in self.spans if s.name == name and (batches is None or s.batch in batches)]

    def self_time(self, index: int) -> float:
        """Span duration minus the part its direct children cover."""
        span = self.spans[index]
        kids = sorted((s.start, s.end) for s in self.spans if s.parent == index)
        covered, edge = 0.0, span.start
        for start, end in kids:
            start = max(start, edge)
            if end > start:
                covered += end - start
                edge = end
        return (span.end - span.start) - covered

    def jobs_and_tasks(self, batch: str) -> tuple[int, int]:
        """Spark jobs and tasks run under this batch's job groups."""
        tracker = self.sc.statusTracker()
        jobs = tasks = 0
        for group in self.groups.get(batch, []):
            for job_id in tracker.getJobIdsForGroup(group):
                jobs += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else []:
                    stage = tracker.getStageInfo(stage_id)
                    tasks += stage.numTasks if stage else 0
        return jobs, tasks

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
