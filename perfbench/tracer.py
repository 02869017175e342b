"""Span tracer with per-span Spark counters.

Spans are recorded from the benchmark's own code, around each call
into a module of the package (``tables.stage_append``,
``kafkawire.decode``, ``queries.c43_substring_dedup`` ...). A span
holds its name, start, end, parent and operation id; the layer is the
part of the name before the first dot. Spans stay in memory until the
run ends.

Spark counters are attributed through job groups: while a span is
open, its id is the thread's job group, so every job the call
launches on the driver thread lands in that group. ``collect()`` then
reads each group's jobs from ``statusTracker`` and their stages and
tasks from the status store (which Spark keeps with
``spark.ui.enabled=false`` too). Jobs launched on other threads, such
as a streaming query's micro-batches, are not attributed.

A disabled tracer records nothing and touches no Spark state, so the
untraced run pays only a ``with`` statement per call.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op_id: int | None
    start: float
    end: float = 0.0
    # Spark counters of the jobs launched while this span was the
    # innermost open span (children's jobs are in the children).
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    shuffle_bytes: int = 0
    task_run_ms: list[float] = field(default_factory=list)
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    collected: bool = False

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def wall_ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Records spans when ``enabled``; a no-op otherwise."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext if spark is not None else None
        self._children: dict[int, list[int]] = {}

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, op_id, time.perf_counter())
        self.spans.append(sp)
        if parent is not None:
            self._children.setdefault(parent, []).append(sp.sid)
        self._stack.append(sp.sid)
        self._set_group(sp.sid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        if self._sc is None:
            return
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(_group(sid), self.spans[sid].name)

    # -- Spark counters ------------------------------------------------------

    def collect(self) -> None:
        """Attach Spark counters to every span not yet collected. Waits
        for the listener bus first, because the status store is filled
        asynchronously after a job returns."""
        if self._sc is None:
            return
        sc = self._sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        no_list = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        for sp in self.spans:
            if sp.collected or sp.end == 0.0:
                continue
            sp.collected = True
            for job_id in tracker.getJobIdsForGroup(_group(sp.sid)):
                job = store.job(job_id)
                sp.jobs += 1
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    sp.job_intervals.append(
                        (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                    )
                stage_ids = job.stageIds()
                for i in range(stage_ids.size()):
                    attempts = store.stageData(
                        stage_ids.apply(i), False, no_list, False, no_quantiles
                    )
                    for k in range(attempts.size()):
                        st = attempts.apply(k)
                        if str(st.status()) == "SKIPPED":
                            continue
                        sp.stages += 1
                        sp.tasks += st.numCompleteTasks()
                        sp.executor_run_ms += st.executorRunTime()
                        sp.executor_cpu_ms += st.executorCpuTime() / 1e6
                        sp.shuffle_bytes += st.shuffleWriteBytes()
                        tasks = store.taskList(
                            st.stageId(), st.attemptId(), st.numTasks()
                        )
                        for t in range(tasks.size()):
                            m = tasks.apply(t).taskMetrics()
                            if m.isDefined():
                                sp.task_run_ms.append(float(m.get().executorRunTime()))

    # -- derived views -------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp.sid]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(self._children.get(sid, []))
        return out

    def inclusive(self, sp: Span) -> dict:
        """Counters of a span plus all its descendants."""
        tree = self.subtree(sp)
        runs = [r for s in tree for r in s.task_run_ms]
        intervals = [iv for s in tree for iv in s.job_intervals]
        med = statistics.median(runs) if runs else 0.0
        return {
            "jobs": sum(s.jobs for s in tree),
            "stages": sum(s.stages for s in tree),
            "tasks": sum(s.tasks for s in tree),
            "executor_run_ms": sum(s.executor_run_ms for s in tree),
            "executor_cpu_ms": sum(s.executor_cpu_ms for s in tree),
            "shuffle_bytes": sum(s.shuffle_bytes for s in tree),
            "max_task_over_median": (max(runs) / med) if med > 0 else 0.0,
            # wall time of the span not covered by any of its jobs:
            # driver-side planning, collects and Python work
            "driver_gap_ms": max(0.0, sp.wall_ms - _union_ms(intervals)),
        }

    def self_ms(self, sp: Span) -> float:
        kids = self._children.get(sp.sid, [])
        return sp.wall_ms - sum(self.spans[k].wall_ms for k in kids)

    def self_ms_by_layer(self, roots: list[Span]) -> dict[str, float]:
        """Self time per layer, summed over the subtrees of ``roots``."""
        out: dict[str, float] = {}
        for root in roots:
            for s in self.subtree(root):
                out[s.layer] = out.get(s.layer, 0.0) + self.self_ms(s)
        return out


def _group(sid: int) -> str:
    return f"perfbench-span-{sid}"


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total * 1000.0
