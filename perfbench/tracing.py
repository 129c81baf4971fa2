"""Spans around the benchmark's calls into the package, with the Spark
counters of the jobs each call ran.

A span records name, start, end, parent span and run id. Spans live in
memory and are written out once, when the run ends. A span opened with
``spark=True`` puts its calls' jobs in a job group of their own; on exit
the span reads the group's jobs from the status tracker and their stages
from the status store (jobs, stages, tasks, executor run time, shuffle
bytes written). Only the traced run pays for this: with tracing off every
span is a no-op.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

from stats import self_time


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spark = None  # set once a session exists

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, spark: bool = False, parent: int | None = None):
        """Yield a dict the caller may add counts to; they are kept with
        the span. ``parent`` overrides the enclosing span of this thread
        (for the root span of a worker thread)."""
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent if parent is not None else (stack[-1] if stack else None),
            "run_id": self.run_id,
            "thread": threading.current_thread().name,
        }
        counts: dict = {}
        group = f"perfbench-{self.run_id}-{sid}"
        sc = self.spark.sparkContext if (spark and self.spark is not None) else None
        if sc is not None:
            sc.setJobGroup(group, name)
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield counts
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                counts.update(spark_counters(sc, group))
            rec["counts"] = counts
            with self._lock:
                self.spans.append(rec)

    def count_group(self, counts: dict, group: str) -> None:
        """Add the Spark counters of job group ``group`` to a span's counts."""
        if self.enabled and self.spark is not None:
            counts.update(spark_counters(self.spark.sparkContext, group))

    def current(self) -> int | None:
        stack = self._stack() if self.enabled else []
        return stack[-1] if stack else None

    def write(self, path: str) -> None:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        with open(path, "w", encoding="utf-8") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                out = dict(s)
                out["self_s"] = self_time(s["start"], s["end"], children.get(s["id"], []))
                f.write(json.dumps(out, default=str) + "\n")


def spark_counters(sc, group: str, settle_s: float = 5.0) -> dict:
    """Jobs, stages, tasks, executor run time and shuffle bytes written of
    the jobs in ``group``. The action has returned when this runs, but the
    status listener may still be catching up, so wait (bounded) until every
    job of the group reads as finished."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    deadline = time.monotonic() + settle_s
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        if all(j is not None and j.status != "RUNNING" for j in jobs):
            break
        if time.monotonic() > deadline:
            break
        time.sleep(0.01)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "exec_run_ms": 0, "shuffle_write_bytes": 0}
    for job in jobs:
        if job is None:
            continue
        for sid in job.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - never submitted (skipped) or evicted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["exec_run_ms"] += st.executorRunTime()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
    return out
