"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The end-to-end tests run every workload through ``run.py --tiny``
(sf0.001-sized inputs), untraced and traced; they take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import workloads as W  # noqa: E402
from tracing import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    SPEC = json.load(_f)

# The per-layer metrics the traced run must print for each workload,
# declared or as detail lines.
_ALL = ["session.start_s", "session.warmup_s", "jvm.peak_rss_mb",
        "spark.jobs", "spark.stages", "spark.tasks", "exec_ms",
        "spark.driver_gap_ms", "spark.executor_cpu_ms", "spark.gc_ms",
        "spark.shuffle_write_bytes", "spark.spill_bytes",
        "spark.failed_tasks", "trace.run_s", "trace.op_p50_ms"]
_PLAN = ["plan.build_ms", "plan.analysis_ms", "plan.optimization_ms",
         "plan.planning_ms", "catalog.load_calls", "catalog.load_ms"]
_CURATE = ["q_dedup_prefix", "q_simhash_eval", "q_minhash_eval",
           "q_dedup_groups", "q_pipeline_llm"]
LAYER_METRICS = {
    "serve": _ALL + _PLAN + [
        f"relational.{q}.p50_ms" for q in (
            "q_top_movies", "q_user_latest_ratings", "q_user_top_ratings",
            "q_user_rated_movies", "q_avg_recommendations",
            "q_recommend")],
    "batch": _ALL + _PLAN + [
        "stream.trigger_ms", "stream.add_batch_ms", "stream.overhead_ms",
        "merge.jobs_per_batch", "merge.applied_ratio", "merge.rewrite_amp",
        "merge.table_files",
        "ml.train_als_s", "pipeline.write_stats_s", "pipeline.write_recs_s",
        "pipeline.write_kv_s", "refresh.output_rows"]
        + [f"curate.{q}_s" for q in _CURATE]
        + [f"curate.{q}.output_rows" for q in _CURATE],
}


def run_bench(workload: str, trace: int, root: str = ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--tiny"],
        capture_output=True, text=True, timeout=300, cwd=root)
    return p, p.stdout.strip().splitlines()


# ------------------------------------------------------------ inputs
def test_two_seeds_same_sizes_and_shares():
    def shape(seed):
        rng = np.random.default_rng(seed)
        star = gen.star(rng, 0.001)
        rr = gen.raw_ratings(rng, star)
        docs = gen.documents(rng, 100)
        ev = gen.events(rng, 2_000, 200)
        resident = duckdb.sql("""SELECT * FROM ev QUALIFY row_number()
            OVER (PARTITION BY user_id, event_type ORDER BY ts DESC) = 1
            """).fetch_arrow_table()
        batches = gen.cdc_batches(rng, resident, 4, 100, 200)
        size = {k: t.num_rows for k, t in star.items()}
        return (size, rr.num_rows, int(rr["is_implicit"].to_numpy().sum()),
                docs.num_rows, ev.num_rows,
                [b.num_rows for b in batches],
                sum(int(b["_deleted"].to_numpy().sum()) for b in batches[:-1]),
                star["lineitem"]["l_partkey"].to_numpy()[:50].tolist())
    a, b = shape(1), shape(2)
    assert a[:-1] == b[:-1]
    assert a[-1] != b[-1]          # the seed does change the rows


def test_same_seed_same_inputs():
    a = gen.documents(np.random.default_rng(5), 50)
    b = gen.documents(np.random.default_rng(5), 50)
    assert a.equals(b)


# ------------------------------------------------------------ checks
def _workload(cls, tmp_path):
    wl = cls(None, str(tmp_path), 3, Tracer(None, enabled=False), None,
             W.SIZES["tiny"])
    wl.setup()
    return wl


def test_wrong_serve_response_fails_the_check(tmp_path):
    wl = _workload(W.Serve, tmp_path)
    con = W._duck(wl.data, ("part", "customer", "orders", "lineitem"))
    key = wl.keys[0]
    ops = []
    for e in wl.ENDPOINTS:
        sql = W.serve_sql(e)
        rows = con.execute(sql, [key] * sql.count("?")).fetchall()
        ops.append(W.Op(e, e, 0.0, 1.0, (key, rows)))
    bad = [tuple(r) for r in ops[0].payload[1]]
    bad[0] = bad[0][:-1] + (bad[0][-1] + 0.01,)
    ops.append(W.Op("q_top_movies", "bad", 0.0, 1.0, (key, bad)))
    wl.check(ops)
    assert [o.ok for o in ops] == [True] * 6 + [False]


def test_wrong_ingest_table_fails_the_check(tmp_path):
    wl = _workload(W.Ingest, tmp_path)
    # the unmerged table is a wrong answer: the batches were never applied
    op = W.Op("trigger", "r0-b0", 0.0, 1.0, payload=wl.table0)
    wl.check([op])
    assert not op.ok


def test_wrong_curate_rows_fail_the_check(tmp_path):
    wl = _workload(W.Curate, tmp_path)
    import __spark_entry__ as E
    res = duckdb.connect()
    res.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{wl.data}/documents.parquet'")
    cur = res.execute(E.oracle_sql()["q_dedup_groups"])
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    assert rows, "the generated corpus must hold near-duplicates"
    good = W.Op("q_dedup_groups", "good", 0.0, 1.0, (cols, rows))
    bad = W.Op("q_dedup_groups", "bad", 0.0, 1.0, (cols, rows[1:]))
    wl.check([good, bad])
    assert good.ok and not bad.ok


def test_broken_engine_raises_failed_and_exit_code(tmp_path):
    """A copy of the checkout whose recommendations are one short."""
    copy = tmp_path / "checkout"
    copy.mkdir()
    for name in ("movie_rec_spark", "perfbench"):
        shutil.copytree(os.path.join(ROOT, name), copy / name,
                        ignore=shutil.ignore_patterns("__pycache__"))
    for name in ("__spark_entry__.py", "BENCHMARK.json"):
        shutil.copy(os.path.join(ROOT, name), copy / name)
    rel = copy / "movie_rec_spark" / "operators" / "relational.py"
    src = rel.read_text()
    assert "REC_LIMIT = 10 " in src
    rel.write_text(src.replace("REC_LIMIT = 10 ", "REC_LIMIT = 9 ", 1))
    p, lines = run_bench("serve", 0, str(copy))
    assert p.returncode == 1, p.stderr[-3000:]
    res = json.loads(lines[-1])
    assert res["correct"] is False and res["failed"] > 0


def test_missing_engine_exits_nonzero_without_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p, lines = run_bench("serve", 0, str(tmp_path))
    assert p.returncode != 0
    assert not any(line.startswith("{") for line in lines)


# ------------------------------------------------------- end to end
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_by_name_and_unit(workload, trace):
    p, lines = run_bench(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: m["unit"] for k, m in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared}
    if trace:
        printed = {ln.split()[1] for ln in lines
                   if ln.startswith(("per_layer", "detail"))}
        assert set(LAYER_METRICS[workload]) <= printed
    else:
        # end-to-end metrics are the measured ones scaled by host speed
        printed = {ln.split()[1]: float(ln.split()[2]) for ln in lines
                   if ln.startswith(("raw", "host"))}
        speed = printed["host.speed"]
        assert speed > 0
        for k, m in res["metrics"].items():
            assert m["value"] == pytest.approx(
                printed[f"raw.{k}"] * speed, rel=1e-3, abs=1e-3)
