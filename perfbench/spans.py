"""Spans around layer calls, read back from Spark's status store.

A span tags the Spark jobs started inside it with a job group of its
own. When the span closes it waits for the listener bus, then sums the
group's stages from ``statusStore().lastStageAttempt()``: tasks,
executor run and CPU time, shuffle bytes and spill. This works with
``spark.ui.enabled=false``.

With tracing off a span records nothing and touches no Spark state, so
the untraced run measures the program alone.

Records stay in memory and are written out once, by ``Tracer.dump``.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from typing import Dict, List, Optional

COUNT_FIELDS = ("jobs", "stages", "tasks", "executor_run_s",
                "executor_cpu_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")


class Span:
    """One layer call: name, parent, wall time and its Spark counts."""

    def __init__(self, sid: int, name: str, parent: Optional[int],
                 attrs: dict):
        self.id = sid
        self.name = name
        self.parent = parent
        self.attrs = attrs
        self.start = time.perf_counter()
        self.wall_s = 0.0
        self.counts: Dict[str, float] = dict.fromkeys(COUNT_FIELDS, 0)

    @property
    def shuffle_bytes(self) -> float:
        return (self.counts["shuffle_read_bytes"]
                + self.counts["shuffle_write_bytes"])

    def record(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "start": self.start, "wall_s": self.wall_s,
                **self.counts, **self.attrs}


class Tracer:
    """Span factory. With ``enabled=False`` a span is a no-op."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: List[Span] = []
        self._stack: List[Span] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def paused(self):
        """Run a block untraced: warm-up, and the paired untraced pass
        that tracing overhead is measured against."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, parent.id if parent else None,
                  attrs)
        group = f"perfbench-{sp.id}"
        self.sc.setJobGroup(group, name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - sp.start
            self._stack.pop()
            self._collect(sp, group)
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    def _collect(self, sp: Span, group: str) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        c = sp.counts
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            c["jobs"] += 1
            for stage in info.stageIds:
                a = store.lastStageAttempt(stage)
                if a.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                c["stages"] += 1
                c["tasks"] += a.numCompleteTasks()
                c["executor_run_s"] += a.executorRunTime() / 1e3
                c["executor_cpu_s"] += a.executorCpuTime() / 1e9
                c["shuffle_read_bytes"] += a.shuffleReadBytes()
                c["shuffle_write_bytes"] += a.shuffleWriteBytes()
                c["spill_bytes"] += (a.memoryBytesSpilled()
                                     + a.diskBytesSpilled())

    def named(self, name: str, **attrs) -> List[Span]:
        return [s for s in self.spans if s.name == name
                and all(s.attrs.get(k) == v for k, v in attrs.items())]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.record()) + "\n")
