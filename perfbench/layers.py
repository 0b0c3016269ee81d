"""Per-layer measurement from outside the engine.

Spans wrap calls into the engine's public functions; Spark-side work
is read back from Spark's own status store by the job group the
benchmark sets around each call. Nothing in the engine is changed:
wrappers are installed by rebinding module attributes and removed at
the end of the run.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans ``{run_id, span_id, parent_id, name, start, end}``.

    A span name is ``<layer>.<call>`` with an optional ``@<subject>``
    suffix (the query or table it concerns). When ``enabled`` is false
    every span is a no-op, so one workload loop serves traced and
    untraced passes.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "run_id": self.run_id,
            "span_id": len(self.spans) + 1,
            "parent_id": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["span_id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name
            if name == "io.read_table" and len(args) >= 3:
                label = f"{name}@{args[2]}"
            with self.span(label):
                return fn(*args, **kwargs)

        return traced


def layer_of(span_name: str) -> str:
    return span_name.split("@", 1)[0].split(".", 1)[0]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent_id"] is not None:
            children.setdefault(s["parent_id"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s["span_id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["span_id"]] = (s["end"] - s["start"]) - covered
    return out


def install_wrappers(tracer: Tracer):
    """Wrap ``io.read_table`` (every module that bound it by name) and the
    ``incremental`` module's global calls. Returns an undo callable."""
    from weather_etl_spark import incremental, io

    undo = []

    def rebind(module, attr, wrapped):
        undo.append((module, attr, getattr(module, attr)))
        setattr(module, attr, wrapped)

    original = io.read_table
    traced_read = tracer.wrap("io.read_table", original)
    for name, module in list(sys.modules.items()):
        if name.startswith("weather_etl_spark") and getattr(module, "read_table", None) is original:
            rebind(module, "read_table", traced_read)
    rebind(incremental, "discover_cursor",
           tracer.wrap("incremental.discover_cursor", incremental.discover_cursor))
    rebind(incremental, "idempotent_append",
           tracer.wrap("sinks.idempotent_append", incremental.idempotent_append))

    def restore():
        for module, attr, value in reversed(undo):
            setattr(module, attr, value)

    return restore


def group_stats(spark, group: str) -> dict:
    """Jobs, stages and task metrics Spark recorded for one job group.

    Reads the in-process status store, which Spark fills with the UI
    off. The listener bus is drained first so the last job is counted.
    """
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = dict(jobs=0, stages=0, tasks=0, task_s=0.0, failed_tasks=0,
               shuffle_write_mb=0.0, spill_mb=0.0, task_skew=1.0)
    seen = set()
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in (info.stageIds if info else ()):
            if stage_id in seen:
                continue
            seen.add(stage_id)
            try:
                sd = store.lastStageAttempt(stage_id)
            except Py4JJavaError:  # evicted from the store, or never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["task_s"] += sd.executorRunTime() / 1000
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
            summary = store.taskSummary(stage_id, sd.attemptId(), quantiles)
            if summary.isDefined():
                run_time = summary.get().executorRunTime()
                median, peak = run_time.apply(0), run_time.apply(1)
                if median > 0:
                    out["task_skew"] = max(out["task_skew"], peak / median)
    return out


def catalyst_phases(df) -> dict:
    """Analysis, optimization and planning milliseconds of ``df``.

    Analysis ran when the DataFrame was built. The forced write plans
    a wrapping command under its own tracker, so optimization and
    planning are read by planning ``df``'s own query execution once
    more; that extra planning is part of the measured trace overhead.
    """
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {
        k: phases.apply(k).durationMs() if phases.contains(k) else 0
        for k in ("analysis", "optimization", "planning")
    }
