"""In-memory spans and Spark job/stage harvesting for traced runs.

Spans wrap the benchmark's own calls into the engine (the engine itself
is not instrumented). Spark metrics come from ``statusTracker`` (jobs per
job group) and the driver's status store (per-stage task metrics), both
of which work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import time

from py4j.protocol import Py4JError


class Tracer:
    """Records spans (name, start, end, parent, op) while enabled; a
    disabled tracer costs one attribute test per span."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self, since: int) -> dict[str, float]:
        """Per span name: summed self time (span minus the part of it its
        children cover) over the spans recorded from index `since` on."""
        child: dict[int, float] = {}
        for s in self.spans[since:]:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans[since:], since):
            dur = s["end"] - s["start"] - child.get(i, 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + dur
        return out


def _union_s(intervals: list[tuple[float, float]]) -> float:
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
    return total


def harvest(sc, group: str, t0: float, t1: float, timeout_s: float = 10.0) -> dict:
    """Jobs, tasks and stage metrics of one job group, plus the time the
    executors waited on the driver (wall minus the union of job
    intervals, clipped to [t0, t1] in epoch seconds)."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = list(tracker.getJobIdsForGroup(group))
    deadline = time.time() + timeout_s
    # job-end events reach the status store asynchronously
    while time.time() < deadline:
        infos = [tracker.getJobInfo(j) for j in job_ids]
        if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
            break
        time.sleep(0.02)
    intervals, stage_ids = [], set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
        try:
            jd = store.job(j)
        except Py4JError:
            continue
        sub, comp = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and comp.isDefined():
            lo = max(t0, sub.get().getTime() / 1000.0)
            hi = min(t1, comp.get().getTime() / 1000.0)
            if hi > lo:
                intervals.append((lo, hi))
    out = {"jobs": len(job_ids), "tasks": 0, "executor_cpu_s": 0.0,
           "shuffle_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0}
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JError:
            continue  # skipped stage: planned, never attempted
        out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["shuffle_mb"] += sd.shuffleWriteBytes() / 1e6
        out["spill_mb"] += sd.diskBytesSpilled() / 1e6
        out["gc_s"] += sd.jvmGcTime() / 1e3
    out["driver_s"] = max(0.0, (t1 - t0) - _union_s(intervals))
    return out
