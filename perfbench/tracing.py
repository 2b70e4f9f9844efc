"""Spans and Spark counters for the traced run.

Spans are recorded by the benchmark's own code around each call into an
engine layer (no engine code is instrumented). Each span may also put
the Spark jobs it starts into a job group; after the run the groups are
resolved to jobs and stages through ``SparkContext.statusTracker()`` and
the status store's ``lastStageAttempt`` (both work with the UI off).
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A span is ``{id, name, layer, start, end,
    parent, run, group}`` with times in seconds since the tracer started.
    Spans opened on another thread (streaming ``foreachBatch``
    callbacks) take the innermost span open on the main thread as
    parent; only main-thread spans set a job group."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self.t0 = time.perf_counter()
        self._main = threading.main_thread()
        self._stack: list[int] = []  # main-thread open spans
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, layer: str, group: str | None = None):
        on_main = threading.current_thread() is self._main
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            rec = {"id": len(self.spans), "name": name, "layer": layer,
                   "parent": parent, "run": self.run_id,
                   "group": group if on_main else None}
            self.spans.append(rec)
            if on_main:
                self._stack.append(rec["id"])
        prev_group = None
        if rec["group"]:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            if rec["group"]:
                if prev_group:
                    self.sc.setJobGroup(prev_group, prev_group)
                else:
                    self.sc._jsc.clearJobGroup()
            if on_main:
                with self._lock:
                    self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the part of
        it covered by its children, summed by layer."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(
                [(c["start"], c["end"]) for c in children.get(s["id"], [])],
                s["start"], s["end"],
            )
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def layer_time(self, layer: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["layer"] == layer)

    def groups(self, layer: str | None = None) -> list[str]:
        return [s["group"] for s in self.spans
                if s["group"] and (layer is None or s["layer"] == layer)]


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


ZERO_COUNTS = {"jobs": 0, "stages": 0, "tasks": 0, "executor_cpu_s": 0.0,
               "executor_run_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
               "spill_mb": 0.0}


def spark_counts(sc, groups) -> dict:
    """Jobs, stages that ran, tasks and stage metrics summed over the
    Spark jobs of the given job groups."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict(ZERO_COUNTS)
    seen_stages: set[int] = set()
    for group in groups:
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                if stage_id in seen_stages:
                    continue
                seen_stages.add(stage_id)
                data = store.lastStageAttempt(stage_id)
                if str(data.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += data.numCompleteTasks()
                out["executor_cpu_s"] += data.executorCpuTime() / 1e9
                out["executor_run_s"] += data.executorRunTime() / 1e3
                out["gc_s"] += data.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += data.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (data.memoryBytesSpilled() + data.diskBytesSpilled()) / 2**20
    return out
