"""Spans, counters and the Spark hooks the benchmark reads from outside
the package.

Spans stay in memory and are written out once, at exit. Spans of one
operation (one pass of a workload) share its ``op`` id. A span's self
time is its duration minus the part of it its children cover, so the
self times of a pass's spans add up to the pass's wall time.

Every Spark number comes from a public or inspection hook reached
through py4j: the status store for jobs and stages, the query
execution's phase tracker for planning, the executed plan's SQL metrics
for operator time and a ``StreamingQueryListener`` for micro-batches.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0


class Tracer:
    """In-memory span recorder. Disabled, it records nothing and its
    ``span`` costs one generator step."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "op": self.op, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def child(self, parent: dict | None, name: str, start: float,
              end: float) -> dict | None:
        """A span measured elsewhere (by Spark), clipped into ``parent``
        and after the parent's existing children that it would overlap."""
        if parent is None or end <= start:
            return None
        start = max(start, parent["start"])
        for s in self.spans:
            if s["parent"] == parent["id"] and s["end"] is not None and s["start"] <= start < s["end"]:
                start = s["end"]
        end = min(end, parent["end"] or time.time())
        if end <= start:
            return None
        rec = {"id": len(self.spans), "op": self.op, "name": name,
               "parent": parent["id"], "start": start, "end": end}
        self.spans.append(rec)
        return rec

    def self_times(self, op: int) -> dict[str, float]:
        """Self time per span name, over the spans of operation ``op``."""
        spans = [s for s in self.spans if s["op"] == op and s["end"] is not None]
        covered: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s["parent"] is not None:
                covered.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in spans:
            busy, cur_end = 0.0, s["start"]
            for a, b in sorted(covered.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    busy += b - a
                    cur_end = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - busy)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --------------------------------------------------------------------------
# Spark status store: jobs, stages, tasks of one job group
# --------------------------------------------------------------------------

def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def wait_listener_bus(spark) -> None:
    """Block until the driver's listener bus has delivered every event
    so far, so the status store holds the finished jobs' numbers."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_group_stats(spark, group: str) -> dict:
    """Totals over the jobs Spark ran under ``group``."""
    sc = spark.sparkContext
    wait_listener_bus(spark)
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0,
           "task_cpu_s": 0.0, "gc_s": 0.0, "input_mb": 0.0,
           "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
           "peak_exec_mem_mb": 0.0, "job_spans": []}
    seen = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        out["jobs"] += 1
        sub, done = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
        if sub is not None and done is not None:
            out["job_spans"].append((sub, done))
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: its output was reused
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["task_run_s"] += st.executorRunTime() / 1e3
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["input_mb"] += st.inputBytes() / MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
            out["peak_exec_mem_mb"] = max(out["peak_exec_mem_mb"],
                                          st.peakExecutionMemory() / MB)
    return out


def plan_phases(df) -> dict[str, float]:
    """Catalyst phase durations (s) recorded on ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


# SQL metric name -> operator-time bucket. Timing metrics are in ms
# ("timing") or ns ("nsTiming"); the type is read off each metric.
_OP_METRICS = {
    "aggTime": "agg_s",
    "sortTime": "sort_s",
    "buildTime": "join_build_s",
    "pythonTotalTime": "python_udf_s",
}


def _children(node) -> list:
    """A physical plan node's children, seen through AQE: an adaptive
    plan's final plan, a query stage's plan, and subqueries."""
    name = node.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        return [node.executedPlan()]
    if "QueryStage" in name:
        return [node.plan()]
    kids = node.children()
    subs = node.subqueries()
    return ([kids.apply(i) for i in range(kids.size())]
            + [subs.apply(i) for i in range(subs.size())])


def operator_times(df) -> dict[str, float]:
    """Operator time (s) by bucket, summed over ``df``'s executed physical
    plan (AQE's final plan included)."""
    out = {v: 0.0 for v in _OP_METRICS.values()}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        metrics = node.metrics()
        for key, bucket in _OP_METRICS.items():
            opt = metrics.get(key)
            if opt.isDefined():
                m = opt.get()
                scale = 1e9 if m.metricType() == "nsTiming" else 1e3
                out[bucket] += m.value() / scale
        stack.extend(_children(node))
    return out


def storage_mem_mb(spark) -> float:
    """Memory held by persisted relations right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / MB


# --------------------------------------------------------------------------
# Structured Streaming progress
# --------------------------------------------------------------------------

class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch's progress and each query's end."""

    def __init__(self) -> None:
        self.progress: list = []
        self.terminated = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._cv:
            self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def wait_terminated(self, count: int, timeout_s: float = 60.0) -> None:
        with self._cv:
            if not self._cv.wait_for(lambda: self.terminated >= count, timeout_s):
                raise TimeoutError("streaming query end event never arrived")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``."""
    total = 0.0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1]) / 1024.0
    return total
