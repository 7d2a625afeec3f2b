"""Spans and counters for the benchmark, taken from outside the engine.

Every span is timed around a call into one layer's public function. A span
records name, start, end, parent and cycle id; spans stay in memory and are
written out when the run ends.

With tracing on, each span also counts, for the work started inside it:

- py4j round trips, by wrapping the gateway client's ``send_command`` in
  this process (exact and repeatable for the same code and input);
- Spark jobs, tasks, task busy time, shuffle write, spill and failed tasks,
  read from the application status store for the jobs of the span's own
  job group (``setJobGroup`` is thread-local, so jobs that builders launch
  eagerly land in the span that called the builder).

With tracing off a span is two clock reads and nothing touches the JVM, so
the end-to-end numbers are measured without tracing.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "failed_tasks": "numFailedTasks",
    "task_busy_ms": "executorRunTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    cycle: str | None
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._py4j = 0
        self._paused = 0
        self._cycle: str | None = None
        self.counters: list[tuple[str | None, str, float]] = []
        if enabled:
            self._wrap_gateway()

    # -- py4j ---------------------------------------------------------------
    def _wrap_gateway(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if not self._paused:
                self._py4j += 1
            return send(*args, **kwargs)

        client.send_command = counted

    @contextmanager
    def _quiet(self):
        """Tracer's own JVM calls are not the engine's py4j traffic."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    # -- spans --------------------------------------------------------------
    def set_cycle(self, cycle: str | None) -> None:
        self._cycle = cycle

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, 0.0, parent, self._cycle)
        self.spans.append(sp)
        self._stack.append(idx)
        group = f"bench-{idx}"
        if self.enabled:
            with self._quiet():
                sc = self.spark.sparkContext
                sc.setJobGroup(group, name)
            py4j0 = self._py4j
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                sp.counts["py4j_calls"] = self._py4j - py4j0
                with self._quiet():
                    for k, v in self._job_counts(group).items():
                        sp.counts[k] = sp.counts.get(k, 0) + v
                    if parent is not None:
                        sc.setJobGroup(f"bench-{parent}", self.spans[parent].name)
                    else:
                        sc.setLocalProperty("spark.jobGroup.id", None)
                # a parent's counters include its children's
                for anc in self._ancestors(idx):
                    for k, v in sp.counts.items():
                        if k != "py4j_calls":
                            anc.counts[k] = anc.counts.get(k, 0) + v

    def _ancestors(self, idx: int):
        p = self.spans[idx].parent
        while p is not None:
            yield self.spans[p]
            p = self.spans[p].parent

    def _job_counts(self, group: str) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        out = {"jobs": len(jobs), **{k: 0 for k in STAGE_FIELDS}}
        for s in stages:
            try:
                data = store.stageAttempt(s, 0, False, None, False, None)._1()
            except Py4JJavaError:  # a skipped stage never ran: no attempt to read
                continue
            for key, getter in STAGE_FIELDS.items():
                out[key] += int(getattr(data, getter)())
        return out

    def group_counts(self, group: str) -> dict:
        """Job counters of one job group, such as a streaming query's run
        id (each micro-batch runs its jobs under that group)."""
        with self._quiet():
            return self._job_counts(group)

    def add(self, name: str, value: float) -> None:
        """Record a counter measured at a layer boundary, for this cycle."""
        self.counters.append((self._cycle, name, value))

    # -- summaries ----------------------------------------------------------
    def self_seconds(self, cycle: str) -> dict[str, float]:
        """Per span name in one cycle: duration minus the part of it that
        child spans cover."""
        child_time: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] += sp.seconds
        out: dict[str, float] = defaultdict(float)
        for i, sp in enumerate(self.spans):
            if sp.cycle == cycle:
                out[sp.name] += sp.seconds - child_time[i]
        return dict(out)

    def records(self) -> list[dict]:
        return [
            {
                "id": i,
                "name": sp.name,
                "start": sp.start,
                "end": sp.end,
                "parent": sp.parent,
                "cycle": sp.cycle,
                **({"counts": sp.counts} if sp.counts else {}),
            }
            for i, sp in enumerate(self.spans)
        ]
