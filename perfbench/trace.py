"""Spans and Spark counters recorded from the benchmark's own side.

A span records name, start, end, parent and run id around one call into a
public function of the engine. With a Spark session attached, each span
also records the change in Spark's counters between its two boundaries:
jobs, stages, tasks, shuffle read/write MB, spill MB, SQL executions,
codegen compiles and the estimated codegen compile seconds. Spans stay in
memory; the run writes them into its record when it ends.

With tracing off, :meth:`Tracer.span` yields at once and records nothing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

MB = 1024 * 1024


class SparkCounters:
    """Cumulative counters read from the SparkContext's status store.

    Stage-level figures (spill, skipped stages) come from the stages of the
    jobs started since the previous read, so each read costs a few py4j calls
    per new stage."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.codegen = self.sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.totals = {"jobs": 0, "stages": 0, "spill_mb": 0.0}
        self.seen_jobs: set[int] = set(self.sc.statusTracker().getJobIdsForGroup(None))

    def read(self) -> dict[str, float]:
        self.jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), self.jsc.statusStore()
        for jid in sorted(set(tracker.getJobIdsForGroup(None)) - self.seen_jobs):
            self.seen_jobs.add(jid)
            self.totals["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage evicted or never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                self.totals["stages"] += 1
                self.totals["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        tasks = shuffle_r = shuffle_w = 0
        it = store.executorList(True).iterator()
        while it.hasNext():
            e = it.next()
            tasks += e.totalTasks()
            shuffle_r += e.totalShuffleRead()
            shuffle_w += e.totalShuffleWrite()
        hist = self.codegen.METRIC_COMPILATION_TIME()
        return {
            **self.totals,
            "tasks": tasks,
            "shuffle_read_mb": shuffle_r / MB,
            "shuffle_write_mb": shuffle_w / MB,
            "codegen_compiles": hist.getCount(),
            "sql_executions": self.sql.executionsCount(),
            # count x mean of the histogram's reservoir: exact while fewer
            # than ~1000 compiles have been recorded, an estimate after
            "codegen_compile_s": hist.getCount() * hist.getSnapshot().getMean() / 1000.0,
        }


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counters: SparkCounters | None = None

    def attach(self, spark) -> None:
        """Start reading Spark's counters at span boundaries (traced runs)."""
        if self.enabled and self.counters is None:
            self.counters = SparkCounters(spark)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
        }
        before = self.counters.read() if self.counters else None
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if before is not None:
                after = self.counters.read()
                rec["at_start"] = before
                rec["counters"] = {k: after[k] - before[k] for k in after}


def self_times(spans: list[dict]) -> dict[str, float]:
    """name -> summed self time: a span's duration minus the part of it that
    its child spans cover (children of one parent never overlap here)."""
    child_time: dict[int, float] = {}
    index = {id(s): i for i, s in enumerate(spans)}
    by_name = {}
    stack: list[dict] = []
    for s in sorted(spans, key=lambda s: s["start"]):
        while stack and stack[-1]["end"] <= s["start"]:
            stack.pop()
        if stack:
            p = index[id(stack[-1])]
            child_time[p] = child_time.get(p, 0.0) + (s["end"] - s["start"])
        stack.append(s)
    for i, s in enumerate(spans):
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + (s["end"] - s["start"]) - child_time.get(i, 0.0)
    return by_name
