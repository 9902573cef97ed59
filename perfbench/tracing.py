"""Layer attribution from outside the program.

``Tracer.span(layer)`` wraps the benchmark's call into one layer: it keeps
a span (name, start, end, parent, run id) in memory and sets the Spark job
group to the layer's name, so the stages the layer runs can be read back
from Spark's status store and summed per layer.  ``time_kernel`` times one
kernel function in this process, single-threaded, on a fixed input slice.
"""

from __future__ import annotations

import statistics
import time
import uuid
from contextlib import contextmanager

LAYERS = ("sources", "warc", "dispatch", "fused", "salted", "enrich")
LAYER_FIELDS = {
    "wall_s": "s", "run_s": "s", "cpu_s": "s", "gc_s": "s",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
    "tasks": "count", "failed_tasks": "count",
    "task_max_over_median": "ratio", "rows_in": "count", "rows_out": "count",
}


class Tracer:
    """Spans of one traced pass, kept in memory."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _group(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        """Record one layer span; ``rows_in``/``rows_out`` may be set on
        the yielded dict."""
        parent = self._stack[-1]["name"] if self._stack else None
        rec = {"name": name, "parent": parent, "run_id": self.run_id,
               "start": time.time()}
        self._stack.append(rec)
        self._group(name)
        t0 = time.monotonic()
        try:
            yield rec
        finally:
            rec["duration_s"] = time.monotonic() - t0
            rec["end"] = time.time()
            self._stack.pop()
            self._group(parent)
            self.spans.append(rec)

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its child spans cover."""
        return rec["duration_s"] - sum(
            c["duration_s"] for c in self.spans if c["parent"] == rec["name"])

    def layer_table(self) -> dict[str, dict[str, float]]:
        """Per traced layer: self wall time plus the summed metrics of the
        stages its job group ran, from the status store."""
        stages = _stage_data(self.sc)
        tracker = self.sc.statusTracker()
        table = {}
        for rec in self.spans:
            ids = set()
            for job in tracker.getJobIdsForGroup(rec["name"]):
                info = tracker.getJobInfo(job)
                if info is not None:
                    ids.update(info.stageIds)
            mine = [s for s in stages if s["id"] in ids]
            heavy = max(mine, key=lambda s: s["run_ms"], default=None)
            table[rec["name"]] = {
                "wall_s": self.self_time(rec),
                "run_s": sum(s["run_ms"] for s in mine) / 1e3,
                "cpu_s": sum(s["cpu_ns"] for s in mine) / 1e9,
                "gc_s": sum(s["gc_ms"] for s in mine) / 1e3,
                "shuffle_write_mb": sum(s["sw_b"] for s in mine) / 1e6,
                "shuffle_read_mb": sum(s["sr_b"] for s in mine) / 1e6,
                "spill_mb": sum(s["spill_b"] for s in mine) / 1e6,
                "tasks": sum(s["tasks"] for s in mine),
                "failed_tasks": sum(s["failed"] for s in mine),
                "task_max_over_median": heavy["skew"] if heavy else 0.0,
                "rows_in": rec.get("rows_in", 0),
                "rows_out": rec.get("rows_out", 0),
            }
        return table


def _stage_data(sc) -> list[dict]:
    """Every stage attempt in the status store.  Py4J cannot fill Scala
    default arguments, so ``stageList`` gets all five explicitly."""
    jvm = sc._jvm
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    seq = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, True, quantiles,
        jvm.java.util.ArrayList())
    out = []
    for i in range(seq.size()):
        s = seq.apply(i)
        if s.status().toString() == "SKIPPED":
            continue
        skew = 0.0
        dist = s.taskMetricsDistributions()
        if dist.isDefined():
            run = dist.get().executorRunTime()
            median, top = run.apply(0), run.apply(1)
            skew = top / median if median > 0 else 1.0
        out.append({
            "id": s.stageId(), "tasks": s.numTasks(),
            "failed": s.numFailedTasks(), "run_ms": s.executorRunTime(),
            "cpu_ns": s.executorCpuTime(), "gc_ms": s.jvmGcTime(),
            "sw_b": s.shuffleWriteBytes(), "sr_b": s.shuffleReadBytes(),
            "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "skew": skew})
    return out


def time_kernel(fn, inputs: list, warm_repeats: int = 3) -> dict[str, float]:
    """Cold first pass over ``inputs`` (one call each), then the median of
    ``warm_repeats`` more passes, and how many inputs raised."""
    def one_pass() -> tuple[float, int]:
        raised = 0
        t0 = time.perf_counter()
        for x in inputs:
            try:
                fn(x)
            except Exception:   # counted, not fatal: a kernel's damage rate
                raised += 1
        return time.perf_counter() - t0, raised

    cold, raised = one_pass()
    warm = statistics.median(one_pass()[0] for _ in range(warm_repeats))
    return {"cold_s": cold, "warm_s": warm, "raised": raised}
