"""One benchmark run in a fresh process: session, inputs, warm-up, the
timed phase, output checks and, when traced, the per-layer metrics.

Launched by ``run.py`` with the launch environment that confines the
run to its scratch directory (and, when traced, turns on Spark's event
log). Writes its result as JSON to ``--result``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

# fail before any set-up when the engine is not there
import movie_rec_spark  # noqa: E402,F401

from tracing import (  # noqa: E402
    StreamProgress,
    Tracer,
    jvm_peak_rss_mb,
    op_spark_metrics,
    read_event_log,
)
from workloads import SIZES, WORKLOADS  # noqa: E402


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (exact sample when only one)."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


# Host speed. On a shared virtual machine the same work takes up to
# about twice as long in some minutes as in others. So every run also
# times two fixed micro-jobs that touch neither the engine nor Spark
# SQL, between rounds, and reports the end-to-end metrics in
# reference-host time: measured time x host speed, where host speed is
# the geometric mean of each probe's reference time over the run's
# median time for it. The measured times are printed as raw.*.
#   latency     a one-partition Java RDD count, driven over py4j like a
#               request: py4j round trips, scheduler hand-offs, one task
#   throughput  a 4-partition RDD range count: all cores busy at once
PROBE_REF_S = {"latency": 0.015, "throughput": 0.050}  # quiet 4-core host
PROBE_REPEAT = 3        # probes of each kind per pause
PROBE_WARM = 20         # untimed probes of each kind before round 1


def host_probe(spark, items) -> dict[str, float]:
    """Seconds taken by each micro-job."""
    t0 = time.perf_counter()
    spark.sparkContext._jsc.parallelize(items, 1).count()
    t1 = time.perf_counter()
    spark.sparkContext._jsc.sc().range(0, 40_000_000, 1, 4).count()
    return {"latency": t1 - t0, "throughput": time.perf_counter() - t1}


def timed_phase(wl, n_rounds: int, spark):
    """Rounds of fixed work with probes between them (and, on batch,
    between the parts of a round); probe time is not round time."""
    rounds, ops, probes = [], [], []
    items = spark._jvm.java.util.Collections.nCopies(1000, 1)
    for _ in range(PROBE_WARM):
        host_probe(spark, items)

    def pause():
        probes.extend(host_probe(spark, items)
                      for _ in range(PROBE_REPEAT))
    wl.pause = pause
    for r in range(n_rounds):
        n = len(probes)
        t0 = time.perf_counter()
        ops += wl.run_round(r)
        rounds.append(time.perf_counter() - t0
                      - sum(sum(p.values()) for p in probes[n:]))
        pause()
    return rounds, ops, probes


def end_to_end(rounds: list[float], ops) -> dict[str, float]:
    """``ops`` are the workload's latency ops (``latency_ops``)."""
    ms = [o.ms for o in ops]
    return {"run_s": statistics.median(rounds),
            "op_p50_ms": quantile(ms, 0.5),
            "op_p90_ms": quantile(ms, 0.9)}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)

    from movie_rec_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.range(1).count()
    start_s = time.perf_counter() - t0

    tracer = Tracer(spark, enabled=False)
    progress = StreamProgress()
    spark.streams.addListener(progress)
    wl = WORKLOADS[args.workload](spark, args.work, args.seed, tracer,
                                  progress, SIZES["tiny" if args.tiny
                                                  else "full"])
    t0 = time.perf_counter()
    wl.setup()
    wl.warm_up()
    warmup_s = time.perf_counter() - t0
    if args.trace:
        wl.instrument()
        tracer.enabled = True

    # fixed work, sized to last about --seconds on a 4-core host: a slow
    # host does the same rounds rather than fewer
    n_rounds = max(1, round(args.seconds / wl.NOMINAL_ROUND_S))
    setup_s = time.time() - args.spawned_at
    rounds, ops, probes = timed_phase(wl, n_rounds, spark)
    tracer.enabled = False
    raw = {"setup_s": setup_s, **end_to_end(rounds, wl.latency_ops(ops))}
    probe_ms = {k: statistics.median(p[k] for p in probes) * 1e3
                for k in PROBE_REF_S}
    speed = math.prod(PROBE_REF_S[k] * 1e3 / v
                      for k, v in probe_ms.items()) ** (1 / len(probe_ms))
    result = {"end_to_end": {k: v * speed for k, v in raw.items()},
              "raw": raw, "host": {"probe_ms": probe_ms, "speed": speed},
              "samples": {"round_s": rounds, "op_ms": [o.ms for o in ops],
                          "probes": probes}}

    wl.check(ops)
    failed = sum(not o.ok for o in ops)
    result.update(attempted=len(ops), failed=failed,
                  failed_ops=[o.op_id for o in ops if not o.ok][:20])
    result["env"] = {
        "spark": spark.version,
        "jvm": spark._jvm.java.lang.System.getProperty("java.version"),
    }
    rss = jvm_peak_rss_mb(spark)
    spark.stop()   # flushes the event log

    if args.trace:
        result["layers"], result["detail"] = layer_metrics(
            wl, tracer, ops, args.work)
        result["layers"].update({
            "session.start_s": (start_s, "s"),
            "session.warmup_s": (warmup_s, "s"),
            "jvm.peak_rss_mb": (rss, "MB"),
            # the end-to-end metrics measured with tracing on: their
            # ratio to an untraced run's is the tracing overhead
            "trace.run_s": (result["end_to_end"]["run_s"], "s"),
            "trace.op_p50_ms": (result["end_to_end"]["op_p50_ms"], "ms"),
        })
        result["spans"] = tracer.dump()

    with open(args.result, "w", encoding="utf-8") as f:
        json.dump(result, f)
    return 0


def layer_metrics(wl, tracer: Tracer, ops, work: str):
    """(declared per-layer metrics, workload detail) of the traced phase,
    each as name -> (value, unit)."""
    jobs, sql = read_event_log(os.path.join(work, "eventlog"))
    by_group: dict[str, list] = {}
    for j in jobs:
        by_group.setdefault(j.group, []).append(j)

    def jobs_of(op):
        if "run_id" in op.extra:    # streaming: Spark's own group + batch
            return [j for j in by_group.get(op.extra["run_id"], [])
                    if j.batch_id == str(op.extra["batch_id"])]
        return by_group.get(op.op_id, [])

    rows = [op_spark_metrics(jobs_of(o), o.start, o.end) for o in ops]
    med = lambda k: statistics.median(r[k] for r in rows)  # noqa: E731
    mean = lambda k: statistics.mean(r[k] for r in rows)   # noqa: E731
    total = lambda k: sum(r[k] for r in rows)              # noqa: E731
    selfs = tracer.self_ms()
    loads = selfs.get("catalog.load_table", [])
    layers = {
        "spark.jobs": (mean("jobs"), "count"),
        "spark.stages": (mean("stages"), "count"),
        "spark.tasks": (mean("tasks"), "count"),
        "exec_ms": (med("exec_ms"), "ms"),
        "spark.driver_gap_ms": (med("driver_gap_ms"), "ms"),
        "spark.executor_cpu_ms": (med("executor_cpu_ms"), "ms"),
        "spark.shuffle_write_bytes": (mean("shuffle_write_bytes"), "bytes"),
    }
    # detail: metrics that are 0 on a correct build or on some workload
    detail = dict(wl.layers(ops, jobs_of, sql))
    detail.update({
        "spark.gc_ms": (total("gc_ms"), "ms"),
        "spark.spill_bytes": (total("spill_bytes"), "bytes"),
        "spark.failed_tasks": (total("failed_tasks"), "count"),
        "catalog.load_calls": (len(loads) / len(ops), "count"),
    })
    if loads:
        detail["catalog.load_ms"] = (statistics.median(loads), "ms")
    if "build" in selfs:    # the builder call, catalog loads excluded
        detail["plan.build_ms"] = (statistics.median(selfs["build"]), "ms")
    for name, v in selfs.items():
        detail[f"self_ms.{name}"] = (statistics.median(v), "ms")
    # per op class: the rows the diff command's drift check reads
    for name in sorted({o.name for o in ops}):
        mine = [r for o, r in zip(ops, rows) if o.name == name]
        for k, unit in (("wall_ms", "ms"), ("jobs", "count"),
                        ("executor_cpu_ms", "ms"), ("driver_gap_ms", "ms"),
                        ("shuffle_write_bytes", "bytes")):
            detail[f"op.{name}.{k}"] = (
                statistics.median(r[k] for r in mine), unit)
    return layers, detail


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
