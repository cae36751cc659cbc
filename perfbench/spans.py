"""Spans around the benchmark's calls into each layer, and the Spark-side
counters of the job groups it sets around each request.

Nothing here reaches inside the package: a span times one call the runner
makes (``session.get_spark``, ``functions.grammar.parse_*``,
``tables.load_table``, ``plans.metrics.planned_scan_bytes``, a registry
query constructor, ``sources.io.write_parquet_sized``), and the counters are
read from Spark's own status store.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent span and request id.

    Disabled tracers record nothing, so an untraced run pays only the
    ``with`` statement."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.request: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def calls(self, name: str) -> list[dict]:
        """Closed spans of ``name`` inside timed requests, or, for a layer
        only set-up calls, its set-up spans."""
        spans = [s for s in self.spans if s["name"] == name and "end" in s]
        timed = [s for s in spans if s["request"] is not None]
        return timed or spans

    def mean_s(self, name: str) -> float:
        spans = self.calls(name)
        if not spans:
            return 0.0
        return sum(s["end"] - s["start"] for s in spans) / len(spans)


def _opt(value, default=None):
    """Scala ``Option`` → Python value."""
    return value.get() if value.isDefined() else default


class JobGroupCounters:
    """Reads the counters of one job group from the status store.

    The status store is filled by the asynchronous listener bus, so an
    action can return before its job-start, task-end or stage-completed
    events have been applied. ``read`` therefore drains the bus and then
    re-reads the group's job ids, their stage ids and the stage counters on
    every pass of its wait loop, until two passes agree. Reading the ids
    once before waiting would miss jobs whose start event was still queued
    and under-count."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._tracker = self._sc.statusTracker()
        store = self._store
        self._stage_defaults = [
            getattr(store, f"stageData$default${i}")() for i in range(2, 6)
        ]

    def snapshot(self, groups: list[str], tasks: bool = False) -> dict:
        """One pass over the groups' jobs and stages (no waiting)."""
        job_ids = sorted(
            {int(j) for g in groups for j in self._tracker.getJobIdsForGroup(g)}
        )
        spans, stage_ids, running = [], set(), 0
        for jid in job_ids:
            job = self._store.job(jid)
            status = job.status().toString()
            running += status == "RUNNING"
            start = _opt(job.submissionTime())
            end = _opt(job.completionTime())
            if start is not None and end is not None:
                spans.append((start.getTime(), end.getTime()))
            it = job.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(int(it.next()))
        out = {
            "jobs": len(job_ids),
            "running_jobs": running,
            "stages": 0,
            "tasks": 0,
            "run_ms": 0,
            "cpu_ns": 0,
            "gc_ms": 0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "stage_ids": sorted(stage_ids),
            "job_spans_ms": spans,
        }
        skews = []
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(sid, *self._stage_defaults)
            it = attempts.iterator()
            while it.hasNext():
                st = it.next()
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                n = st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks()
                out["tasks"] += n
                out["run_ms"] += st.executorRunTime()
                out["cpu_ns"] += st.executorCpuTime()
                out["gc_ms"] += st.jvmGcTime()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if tasks and n >= 2:
                    skews.append((st.executorRunTime(), self._stage_skew(sid, st)))
        if tasks:
            weight = sum(w for w, _ in skews)
            out["task_skew"] = (
                sum(w * s for w, s in skews) / weight if weight else 1.0
            )
        return out

    def _stage_skew(self, sid: int, stage) -> float:
        """max ÷ median task duration within one stage attempt."""
        durations = []
        it = self._store.taskList(sid, stage.attemptId(), 1 << 20).iterator()
        while it.hasNext():
            d = _opt(it.next().duration())
            if d is not None:
                durations.append(d)
        if len(durations) < 2:
            return 1.0
        med = statistics.median(durations)
        return max(durations) / med if med > 0 else 1.0

    def read(self, groups: list[str], timeout_s: float = 10.0) -> dict:
        """Counters of the groups once the listener bus has caught up."""
        deadline = time.perf_counter() + timeout_s
        prev = None
        while True:
            self._bus.waitUntilEmpty(int(max(1.0, (deadline - time.perf_counter()) * 1000)))
            cur = self.snapshot(groups)
            if cur == prev and cur["running_jobs"] == 0:
                break
            if time.perf_counter() > deadline:
                raise TimeoutError(f"job groups {groups} did not settle")
            prev = cur
            time.sleep(0.02)
        cur.update(self.snapshot(groups, tasks=True))
        cur["exec_ms"] = _union_ms(cur["job_spans_ms"])
        return cur


def _union_ms(spans: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] intervals."""
    total, edge = 0, None
    for start, end in sorted(spans):
        if edge is None or start > edge:
            total += end - start
            edge = end
        elif end > edge:
            total += end - edge
            edge = end
    return total
