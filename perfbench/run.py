"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py diff before.jsonl after.jsonl

A run launches ``worker.py`` in a fresh process confined to a fresh
scratch directory under ``.perfbench_work/`` (removed afterwards),
prints every metric by name and unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
``--out FILE`` appends the full result (every metric, samples, spans
and the run environment) to FILE as one JSON line, for ``diff``.
The exit code is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve", "batch")
TIME_LIMIT_S = 170


def launch_env(work: str, trace: bool) -> dict[str, str]:
    """Environment that keeps every file the run writes inside ``work``
    and, for a traced run, turns on Spark's event log."""
    dirs = {k: os.path.join(work, k) for k in
            ("tmp", "scratch", "checkpoint", "local", "eventlog",
             "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.local.dir": dirs["local"],
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    env = dict(os.environ)
    env.update({
        # local[nproc] whatever the caller's shell says, so runs on one
        # host are comparable; 2g covers every workload's heap
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": "2g",
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell",
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": dirs["tmp"],
        # every JVM (the launcher's too): temp files in the scratch
        # directory, and no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
        "MRS_SCRATCH_DIR": dirs["scratch"],
        "SPARK_CHECKPOINT_DIR": dirs["checkpoint"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TZ": "UTC",
        # the same str/bytes hashes, hence set and dict order, every run
        "PYTHONHASHSEED": "0",
    })
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Stop every process of the worker's session (the JVM and Python
    workers included) and wait until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 5
        while time.time() < deadline:
            proc.poll()     # reap the worker, or its zombie keeps the group
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def source_digest() -> str:
    """Digest of the engine's sources: names the code version in a
    checkout that is not a git repository."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for base, _, names in os.walk(os.path.join(ROOT, "movie_rec_spark")):
        files += [os.path.join(base, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


def run(args) -> int:
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "movie_rec_spark")):
        print("engine sources (movie_rec_spark/) not found", file=sys.stderr)
        return 2
    load_before = os.getloadavg()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        env = launch_env(work, bool(args.trace))
        result_path = os.path.join(work, "result.json")
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--spawned-at", repr(time.time()), "--work", work,
               "--result", result_path] + (["--tiny"] if args.tiny else [])
        log_path = os.path.join(work, "worker.log")
        with open(log_path, "wb") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                    stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                rc = proc.wait(TIME_LIMIT_S - (time.time() - t_start))
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                stop_group(proc)
                proc.wait()
        if rc != 0 or not os.path.exists(result_path):
            with open(log_path, encoding="utf-8", errors="replace") as f:
                tail = f.readlines()[-40:]
            sys.stderr.write("".join(tail))
            print(f"worker failed (exit {rc})", file=sys.stderr)
            return 2
        with open(result_path, encoding="utf-8") as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["env"].update({
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_CPUS_inherited": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "commit": git_commit(), "source_digest": source_digest(),
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
    })
    return report(res, args)


def report(res: dict, args) -> int:
    units = {"setup_s": "s", "run_s": "s", "op_p50_ms": "ms",
             "op_p90_ms": "ms"}
    e2e = {k: {"value": v, "unit": units[k]}
           for k, v in res["end_to_end"].items()}
    layers = {k: {"value": v, "unit": u}
              for k, (v, u) in res.get("layers", {}).items()}
    detail = {k: {"value": v, "unit": u}
              for k, (v, u) in res.get("detail", {}).items()}
    attempted, failed = res["attempted"], res["failed"]
    raw = {f"raw.{k}": {"value": v, "unit": units[k]}
           for k, v in res["raw"].items()}
    host = {f"host.{k}_probe_ms": {"value": v, "unit": "ms"}
            for k, v in res["host"]["probe_ms"].items()}
    host["host.speed"] = {"value": res["host"]["speed"], "unit": "ratio"}
    for section, metrics in (("end_to_end", e2e), ("raw", raw),
                             ("host", host), ("per_layer", layers),
                             ("detail", detail)):
        for k, m in sorted(metrics.items()):
            print(f"{section:10s} {k:45s} {m['value']:>14.4f} {m['unit']}")
    print(f"{'end_to_end':10s} {'fail_ratio':45s} "
          f"{failed / attempted:>14.4f} ratio  ({failed}/{attempted} ops)")
    env = res["env"]
    print("env " + json.dumps(env, sort_keys=True))
    if failed:
        print("failed ops: " + ", ".join(res["failed_ops"]))
    if args.out:
        full = {"env": env, "attempted": attempted, "failed": failed,
                "metrics": {**e2e, **raw, **host, **layers, **detail},
                "samples": res["samples"], "spans": res.get("spans", [])}
        with open(args.out, "a", encoding="utf-8") as f:
            f.write(json.dumps(full) + "\n")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": layers if args.trace else e2e}))
    return 0 if failed == 0 else 1


def _terminate(signum, frame):
    # unwind through run()'s finally blocks, which stop the worker
    raise SystemExit(128 + signum)


def main(argv: list[str]) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGHUP, _terminate)
    if argv[:1] == ["diff"]:
        sys.path.insert(0, HERE)
        import diff
        return diff.main(argv[1:])
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append the full result to this JSONL file")
    ap.add_argument("--tiny", action="store_true",
                    help="sf0.001-sized inputs, for the benchmark's tests")
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
