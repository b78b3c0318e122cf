"""Tracing for the benchmark's traced run.

Everything here observes the engine from outside:

- ``Tracer`` keeps spans (name, start, end, parent, op id) in memory
  around the benchmark's own calls into the engine, and tags each op's
  Spark jobs with a job group so the event log can be split per op.
- ``StreamProgress`` is a ``StreamingQueryListener`` that records
  Spark's own micro-batch progress (trigger and addBatch durations).
- ``read_event_log`` parses Spark's event log (enabled through the
  launch environment) into per-job records with task metrics, and
  ``op_spark_metrics`` folds them into per-op counts and times.

The untraced run uses none of this except ``StreamProgress``, which is
the only record of per-trigger latency on batch's write path.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float          # epoch seconds
    end: float
    parent: int | None    # index of the enclosing span
    op: str | None        # op id shared by every span of one op


class Tracer:
    """Span recorder. With ``enabled`` false, ``span`` still yields but
    records nothing and never touches Spark's job properties."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, op))
        self._stack.append(idx)
        is_op = parent is None and op is not None
        if is_op:
            self.spark.sparkContext.setJobGroup(op, name)
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            if is_op:
                self.spark.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", None)
                self.spark.sparkContext.setLocalProperty(
                    "spark.job.description", None)

    def self_ms(self) -> dict[str, list[float]]:
        """Self time per span name: duration minus the part its direct
        children cover (children never overlap: calls are sequential)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, list[float]] = {}
        for s, c in zip(self.spans, child):
            out.setdefault(s.name, []).append((s.end - s.start - c) * 1e3)
        return out

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


class StreamProgress(StreamingQueryListener):
    """Collects ``StreamingQueryProgress`` per query run."""

    def __init__(self):
        self.progress: list[dict] = []
        self.started: list[tuple[float, str]] = []
        self._done: dict[str, threading.Event] = {}
        self._lock = threading.Lock()

    def _event(self, run_id: str) -> threading.Event:
        with self._lock:
            return self._done.setdefault(run_id, threading.Event())

    def onQueryStarted(self, event):
        self._event(str(event.runId))
        self.started.append((_iso_epoch(event.timestamp), str(event.runId)))

    def onQueryProgress(self, event):
        p = event.progress
        if p.numInputRows == 0:
            return
        self.progress.append({
            "run_id": str(p.runId), "batch_id": p.batchId,
            "start": _iso_epoch(p.timestamp),
            "trigger_ms": p.durationMs.get("triggerExecution", 0),
            "add_batch_ms": p.durationMs.get("addBatch", 0),
            "rows": p.numInputRows,
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self._event(str(event.runId)).set()

    def finished_run(self, since: float, timeout: float = 60.0) -> str:
        """The one query run started after ``since`` (epoch s), once the
        listener bus has delivered its termination, so every progress
        event of that run is recorded."""
        deadline = time.time() + timeout
        while True:
            runs = [r for t, r in self.started if t >= since]
            if runs:
                break
            if time.time() > deadline:
                raise TimeoutError("no query start event")
            time.sleep(0.01)
        [run_id] = runs
        if not self._event(run_id).wait(max(0.0, deadline - time.time())):
            raise TimeoutError(f"no termination event for run {run_id}")
        return run_id

    def for_run(self, run_id: str) -> list[dict]:
        return [p for p in self.progress if p["run_id"] == run_id]


def _iso_epoch(ts: str) -> float:
    from datetime import datetime, timezone
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


@dataclass
class Job:
    job_id: int
    group: str | None
    batch_id: str | None
    start: float        # epoch seconds
    end: float = 0.0
    stages: set = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


def read_event_log(log_dir: str) -> tuple[list[Job], list[dict]]:
    """Jobs with their task metrics, and SQL executions (id, start,
    end, plan description), from the single uncompressed event log
    file Spark wrote under ``log_dir``."""
    [name] = os.listdir(log_dir)
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    sql: dict[int, dict] = {}
    with open(os.path.join(log_dir, name), encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                          props.get("streaming.sql.batchId"),
                          ev["Submission Time"] / 1e3)
                jobs[job.job_id] = job
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                if job is None:
                    continue
                job.stages.add(ev["Stage ID"])
                job.tasks += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    job.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                job.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                job.gc_ms += m.get("JVM GC Time", 0)
                job.shuffle_write_bytes += (m.get("Shuffle Write Metrics")
                                            or {}).get("Shuffle Bytes Written", 0)
                job.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0))
                job.output_bytes += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql[ev["executionId"]] = {
                    "id": ev["executionId"], "start": ev["time"] / 1e3,
                    "end": None, "plan": ev.get("physicalPlanDescription", "")}
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                if ev["executionId"] in sql:
                    sql[ev["executionId"]]["end"] = ev["time"] / 1e3
    return sorted(jobs.values(), key=lambda j: j.job_id), list(sql.values())


def covered(intervals: list[tuple[float, float]], lo: float, hi: float
            ) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def op_spark_metrics(jobs: list[Job], start: float, end: float) -> dict:
    """Fold one op's jobs into the per-op ``spark.*`` row."""
    busy = covered([(j.start, j.end) for j in jobs], start, end)
    wall = end - start
    return {
        "wall_ms": wall * 1e3,
        "jobs": len(jobs),
        "stages": sum(len(j.stages) for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "failed_tasks": sum(j.failed_tasks for j in jobs),
        "exec_ms": busy * 1e3,
        "driver_gap_ms": (wall - busy) * 1e3,
        "executor_cpu_ms": sum(j.cpu_ms for j in jobs),
        "gc_ms": sum(j.gc_ms for j in jobs),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
        "output_bytes": sum(j.output_bytes for j in jobs),
    }


def planning_phases(df) -> dict[str, float]:
    """QueryPlanningTracker phase times (ms) of an executed DataFrame."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set size of the driver JVM (VmHWM)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")
