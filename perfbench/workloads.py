"""The workloads: inputs, warm-up, one round of fixed work, and the
output checks run after the timed phase.

A *round* is the unit of fixed work that ``run_s`` times; an *op* is
the unit ``op_p50_ms``/``op_p90_ms`` time:

========  ===============================  ==============================
workload  round                            op
========  ===============================  ==============================
serve     one rotation: 7 requests over    one request (build + collect)
          the 6 endpoints
batch     one CDC replay (4 micro-batches  a micro-batch trigger, the
          into a copy of the table), one   refresh cycle, and each
          ``run_pipeline`` refresh cycle,  curation query (build +
          then one curation pass over 5    collect)
          queries
========  ===============================  ==============================

The op percentiles are taken over one kind of op per workload
(``latency_ops``): on ``batch``, the curation queries only.

Sizes are fixed here; the seed only changes which rows the generators
pick (see ``gen``). ``tiny`` sizes are for the benchmark's own tests.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import gen
from tracing import StreamProgress, Tracer, planning_phases

SIZES = {
    # serve_sf 0.01 ~ ml-latest-small (60k lines, 1.5k users); the
    # refresh input at 0.01 is ~66k raw ratings
    "full": {"serve_sf": 0.01, "serve_warm": 4, "refresh_sf": 0.01,
             "events": 20_000, "users": 2_000, "batch_rows": 1_000,
             "docs": 400},
    "tiny": {"serve_sf": 0.001, "serve_warm": 1, "refresh_sf": 0.001,
             "events": 2_000, "users": 200, "batch_rows": 100,
             "docs": 60},
}
INGEST_BATCHES = 4      # 3 batches + 1 redelivery


@dataclass
class Op:
    name: str
    op_id: str
    start: float                 # epoch seconds
    end: float
    payload: object = None       # what the check needs
    ok: bool = True
    extra: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


def rows_key(rows) -> list:
    """Order-insensitive, type-normalised form of a result set."""
    def cell(v):
        if isinstance(v, bool) or v is None or isinstance(v, str):
            return v
        if isinstance(v, (int, float)) or hasattr(v, "as_integer_ratio"):
            f = float(v)
            return None if math.isnan(f) else round(f, 6)
        return str(v)
    return sorted((tuple(cell(v) for v in r) for r in rows), key=repr)


class Workload:
    name = ""
    NOMINAL_ROUND_S = 1.0   # one round's wall time on a 4-core host
    # called between the parts of a round to time the host (see
    # worker.timed_phase); a no-op outside the timed phase
    pause = staticmethod(lambda: None)

    def __init__(self, spark, work: str, seed: int, tracer: Tracer,
                 progress: StreamProgress, size: dict):
        self.spark, self.work = spark, work
        self.tracer, self.progress, self.size = tracer, progress, size
        self.rng = np.random.default_rng(seed)
        self.data = os.path.join(work, "data", self.name)

    def setup(self) -> None: ...

    def warm_up(self) -> None: ...

    def run_round(self, r: int) -> list[Op]: ...

    def check(self, ops: list[Op]) -> None: ...

    def latency_ops(self, ops: list[Op]) -> list[Op]:
        """The ops ``op_p50_ms``/``op_p90_ms`` are taken over."""
        return ops

    def instrument(self) -> None:
        """Extra spans for the traced run, if the workload needs any."""

    def layers(self, ops: list[Op], jobs_of, sql: list[dict]) -> dict:
        """Workload-specific per-layer metrics: name -> (value, unit)."""
        return {}

    def _timed(self, name: str, op_id: str, fn) -> Op:
        """Run ``fn`` as one op span; returns the op with its result."""
        with self.tracer.span(name, op_id):
            t0 = time.time()
            out = fn()
            t1 = time.time()
        return Op(name, op_id, t0, t1, out)


# --------------------------------------------------------------- serve
class Serve(Workload):
    """Closed loop, one client: the reference's REST read path."""

    name = "serve"
    NOMINAL_ROUND_S = 2.15
    ENDPOINTS = ("q_top_movies", "q_user_latest_ratings",
                 "q_user_top_ratings", "q_user_rated_movies",
                 "q_avg_recommendations", "q_recommend")
    # One rotation: every endpoint once, and the recommendations, the
    # service's main endpoint, twice. With seven requests the op median
    # falls inside one endpoint's latencies, not on the edge between
    # two, and the p90 inside q_recommend's.
    ROTATION = ENDPOINTS + ("q_recommend",)

    def setup(self):
        from movie_rec_spark.operators import relational as R
        self.R = R
        tables = gen.star(self.rng, self.size["serve_sf"])
        gen.write_tables(tables, self.data)
        # request keys: customers that have orders, drawn by the seed
        users = np.unique(tables["orders"]["o_custkey"].to_numpy())
        self.keys = self.rng.choice(users, 10_000).tolist()
        self.warm_keys = self.rng.choice(
            users, (self.size["serve_warm"], len(self.ROTATION))).tolist()
        self.n = 0

    def _build(self, endpoint: str, key: int):
        from movie_rec_spark.sources.catalog import load_table

        def t(name):
            with self.tracer.span("catalog.load_table"):
                return load_table(self.spark, self.data, name)
        R = self.R
        if endpoint == "q_top_movies":
            return R.q_top_movies(t("lineitem"), t("part"))
        if endpoint == "q_user_latest_ratings":
            return R.q_user_latest_ratings(t("orders"), t("customer"), key)
        if endpoint == "q_user_top_ratings":
            return R.q_user_top_ratings(t("orders"), t("customer"), key)
        if endpoint == "q_user_rated_movies":
            return R.q_user_rated_movies(t("lineitem"), t("orders"),
                                         t("part"), key)
        if endpoint == "q_avg_recommendations":
            return R.q_avg_recommendations(t("lineitem"), t("orders"), key)
        return R.q_recommend(t("lineitem"), t("orders"), key)

    def _request(self, endpoint: str, key: int, op_id: str) -> Op:
        def call():
            with self.tracer.span("build"):
                df = self._build(endpoint, key)
            with self.tracer.span("collect"):
                rows = df.collect()
            return df, rows
        op = self._timed(endpoint, op_id, call)
        df, rows = op.payload
        if self.tracer.enabled:
            op.extra["plan"] = planning_phases(df)
        op.payload = (key, rows)
        return op

    def warm_up(self):
        """A fixed number of rotations: the first rotations after
        start-up are the slowest (on a 4-core host 5 s, then 3.5 s, then
        about 2.5 s by the fifth) while the JVM compiles the driver's
        planning code. Later rotations keep getting slowly faster, so
        ``run_s`` is the median over a timed phase of many rotations."""
        for r, keys in enumerate(self.warm_keys):
            for e, k in zip(self.ROTATION, keys):
                self._request(e, k, f"warm{r}-{e}")

    def run_round(self, r):
        ops = []
        for e in self.ROTATION:
            key = self.keys[self.n % len(self.keys)]
            ops.append(self._request(e, key, f"r{r}-{e}-{self.n}"))
            self.n += 1
        return ops

    def check(self, ops):
        con = _duck(self.data, ("part", "customer", "orders", "lineitem"))
        for op in ops:
            key, rows = op.payload
            sql = serve_sql(op.name)
            want = con.execute(sql, [key] * sql.count("?")).fetchall()
            op.ok = rows_key(rows) == rows_key(want)

    def layers(self, ops, jobs_of, sql):
        out = {}
        for e in self.ENDPOINTS:
            mine = [o for o in ops if o.name == e]
            out[f"relational.{e}.p50_ms"] = (
                statistics.median(o.ms for o in mine), "ms")
        for phase in ("analysis", "optimization", "planning"):
            out[f"plan.{phase}_ms"] = (statistics.median(
                o.extra["plan"][phase] for o in ops), "ms")
        return out


# The serving contract, from the reference's config: popularity counts
# lines with quantity >= 25 (rating >= 3.5), /movies/top returns 100,
# per-user lists 20, recommendations 10.
QTY_MIN, TOP_LIMIT, USER_LIMIT, REC_LIMIT = 25.0, 100, 20, 10


def serve_sql(endpoint: str) -> str:
    """DuckDB statement answering one request (``?`` = customer key)."""
    pop = f"""SELECT l_partkey, count(*) AS cnt_orders,
                 ((2 * sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                   + count(*)) // (2 * count(*))) / 100.0 AS avg_price
              FROM lineitem WHERE l_quantity >= {QTY_MIN}
              GROUP BY l_partkey"""
    seen = """SELECT DISTINCT l_partkey FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey WHERE o_custkey = ?"""
    user = """SELECT o_orderkey, c_name, o_totalprice, o_orderdate
              FROM orders JOIN customer ON o_custkey = c_custkey
              WHERE o_custkey = ?"""
    return {
        "q_top_movies": f"""
            SELECT p_partkey, p_name, cnt_orders, avg_price
            FROM ({pop}) JOIN part ON l_partkey = p_partkey
            ORDER BY cnt_orders DESC, avg_price DESC, p_partkey
            LIMIT {TOP_LIMIT}""",
        "q_user_latest_ratings": f"""{user}
            ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT {USER_LIMIT}""",
        "q_user_top_ratings": f"""{user}
            ORDER BY o_totalprice DESC, o_orderdate DESC, o_orderkey
            LIMIT {USER_LIMIT}""",
        "q_user_rated_movies": f"""
            SELECT p_partkey, p_name, p_brand FROM part
            WHERE p_partkey IN ({seen})""",
        "q_avg_recommendations": f"""
            SELECT l_partkey AS p_partkey, cnt_orders, avg_price
            FROM ({pop}) WHERE l_partkey NOT IN ({seen})
            ORDER BY cnt_orders DESC, avg_price DESC, p_partkey
            LIMIT {REC_LIMIT}""",
        "q_recommend": f"""
            WITH pop AS ({pop}), seen AS ({seen}),
            pre AS (SELECT l_partkey AS item_id,
                           CAST(cnt_orders AS DOUBLE) AS score
                    FROM pop ORDER BY cnt_orders DESC, avg_price DESC,
                                      l_partkey LIMIT {REC_LIMIT}),
            fresh AS (SELECT item_id, score, 'precomputed' AS rec_source,
                             0 AS prio
                      FROM pre WHERE item_id NOT IN (SELECT * FROM seen)),
            back AS (SELECT l_partkey AS item_id,
                            CAST(cnt_orders AS DOUBLE) AS score,
                            'popular' AS rec_source, 1 AS prio
                     FROM pop WHERE l_partkey NOT IN (SELECT * FROM seen)
                       AND l_partkey NOT IN (SELECT item_id FROM fresh)
                     ORDER BY score DESC, item_id LIMIT {REC_LIMIT})
            SELECT item_id, score, rec_source FROM (
                SELECT * FROM fresh UNION ALL SELECT * FROM back)
            ORDER BY prio, score DESC, item_id LIMIT {REC_LIMIT}""",
    }[endpoint]


def _duck(data: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data}/{t}.parquet'")
    return con


# ------------------------------------------------------------- refresh
class Refresh(Workload):
    """The 15-minute recompute: compaction, stats, ALS, top-N, writes."""

    name = "refresh"
    OPS = ("cycle",)
    TOP_N = 20

    def setup(self):
        rr = gen.raw_ratings(self.rng, gen.star(self.rng,
                                                self.size["refresh_sf"]))
        gen.write_tables({"ratings": rr}, self.data)

    def instrument(self):
        """Time the pipeline's calls into ``ml`` as spans. Called in the
        traced run only; the spans record nothing while the tracer is
        off."""
        from movie_rec_spark import ml
        for fn in ("train_als", "recommend_top_n"):
            orig = getattr(ml, fn)

            def wrapped(*a, _orig=orig, _name=f"ml.{fn}", **kw):
                with self.tracer.span(_name):
                    return _orig(*a, **kw)
            setattr(ml, fn, wrapped)

    def run_round(self, r):
        from movie_rec_spark import pipeline, schemas
        out = f"{self.work}/refresh-out{r}"

        def call():
            raw = self.spark.read.schema(schemas.RATINGS).parquet(
                f"{self.data}/ratings.parquet")
            pipeline.run_pipeline(self.spark, raw, out_dir=out,
                                  top_n=self.TOP_N)
        op = self._timed("cycle", f"cycle{r}", call)
        op.payload = out
        return [op]

    def check(self, ops):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW ratings AS SELECT * FROM "
                    f"'{self.data}/ratings.parquet'")
        latest = """SELECT * FROM ratings QUALIFY row_number() OVER (
                        PARTITION BY user_id, movie_id
                        ORDER BY ts DESC, rating DESC NULLS LAST) = 1"""
        want_stats = con.execute(f"""
            SELECT movie_id, count(user_id), avg(rating)
            FROM ({latest}) WHERE NOT is_implicit GROUP BY movie_id
            HAVING count(user_id) > 5""").fetchall()
        [(n_users,)] = con.execute(f"""SELECT count(DISTINCT user_id)
            FROM ({latest}) WHERE rating IS NOT NULL""").fetchall()
        for op in ops:
            out = op.payload
            got = con.execute(f"""SELECT movie_id, count_users, avg_ratings
                FROM '{out}/movie_stats/*.parquet'""").fetchall()
            recs = f"'{out}/recommendations/*.parquet'"
            bad_users, users, rows = con.execute(f"""
                SELECT count(*) FILTER (WHERE n > {self.TOP_N}
                         OR lo <> 1 OR hi <> n OR nd <> n
                         OR smin < 0.5 OR smax > 5.0),
                       count(*), sum(n)
                FROM (SELECT user_id, count(*) n, min(rank) lo,
                             max(rank) hi, count(DISTINCT rank) nd,
                             min(score) smin, max(score) smax
                      FROM {recs} GROUP BY user_id)""").fetchone()
            kv_diff = con.execute(f"""
                SELECT count(*) FROM (
                  (SELECT key, value FROM '{out}/rec_kv/*.parquet'
                   EXCEPT ALL
                   SELECT 'u' || user_id, string_agg(CAST(item_id AS
                          VARCHAR), ';' ORDER BY rank)
                   FROM {recs} GROUP BY user_id)
                  UNION ALL
                  (SELECT 'u' || user_id, string_agg(CAST(item_id AS
                          VARCHAR), ';' ORDER BY rank)
                   FROM {recs} GROUP BY user_id
                   EXCEPT ALL
                   SELECT key, value FROM '{out}/rec_kv/*.parquet'))
                """).fetchone()[0]
            op.ok = (rows_key(got) == rows_key(want_stats)
                     and bad_users == 0 and users == n_users
                     and kv_diff == 0)
            op.extra["output_rows"] = int(rows or 0)

    def layers(self, ops, jobs_of, sql):
        spans = self.tracer.spans
        out = {"ml.train_als_s": (statistics.median(
                   s.end - s.start for s in spans
                   if s.name == "ml.train_als"), "s"),
               "refresh.output_rows": (ops[-1].extra["output_rows"],
                                       "count")}
        for table, metric in (("movie_stats", "write_stats"),
                              ("recommendations", "write_recs"),
                              ("rec_kv", "write_kv")):
            times = [sum(x["end"] - x["start"] for x in sql
                         if x["end"] and op.start <= x["start"] <= op.end
                         and f"{op.payload}/{table}" in x["plan"])
                     for op in ops]
            out[f"pipeline.{metric}_s"] = (statistics.median(times), "s")
        return out


# -------------------------------------------------------------- ingest
class Ingest(Workload):
    """CDC micro-batches through ``streaming.lakehouse.merge_stream``
    into a partitioned table, replayed into a fresh copy each round.
    The write path, run as the first part of ``batch``."""

    name = "ingest"
    OPS = ("trigger",)
    SCHEMA = ("event_id bigint, user_id bigint, event_type string, "
              "value double, ts timestamp, _deleted boolean")

    def setup(self):
        ev = gen.events(self.rng, self.size["events"], self.size["users"])
        resident = duckdb.sql("""
            SELECT event_id, user_id, event_type, value, ts FROM ev
            QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts DESC, event_id DESC) = 1
            """).fetch_arrow_table()
        self.table0 = os.path.join(self.data, "table0")
        pads.write_dataset(resident, self.table0, format="parquet",
                           partitioning=["event_type"],
                           partitioning_flavor="hive")
        self.cdc = os.path.join(self.data, "cdc")
        os.makedirs(self.cdc)
        self.batch_files = []
        for i, b in enumerate(gen.cdc_batches(
                self.rng, resident, INGEST_BATCHES, self.size["batch_rows"],
                self.size["users"])):
            path = os.path.join(self.cdc, f"batch-{i:05d}.parquet")
            pq.write_table(b, path)
            # the file source delivers in (mtime, path) order
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
            self.batch_files.append(path)

    def _replay(self, tag: str) -> tuple[list[Op], str]:
        from movie_rec_spark.streaming import lakehouse
        tbl = os.path.join(self.work, f"tbl-{tag}")
        shutil.copytree(self.table0, tbl)
        stream = (self.spark.readStream.schema(self.SCHEMA)
                  .option("maxFilesPerTrigger", "1").parquet(self.cdc))
        t0 = time.time()
        log = lakehouse.merge_stream(
            self.spark, stream, tbl, os.path.join(self.work, f"ck-{tag}"),
            keys=["user_id", "event_type"], partition_col="event_type")
        # Spark stamps the start event in whole milliseconds
        run_id = self.progress.finished_run(since=t0 - 0.001)
        ops = []
        for p in self.progress.for_run(run_id):
            op = Op("trigger", f"{tag}-b{p['batch_id']}", p["start"],
                    p["start"] + p["trigger_ms"] / 1e3, payload=tbl)
            op.extra.update(p, run_id=run_id)
            summary = [s for s in log if s["batch_id"] == p["batch_id"]]
            op.extra["summary"] = summary[0] if summary else {}
            ops.append(op)
        if len(ops) != len(self.batch_files):
            raise RuntimeError(f"expected {len(self.batch_files)} triggers, "
                               f"saw {len(ops)}")
        return ops, tbl

    def run_round(self, r):
        ops, _ = self._replay(f"r{r}")
        return ops

    def check(self, ops):
        con = duckdb.connect()
        con.execute(f"""CREATE TABLE t AS SELECT event_id, user_id,
            event_type, value, ts FROM read_parquet(
            '{self.table0}/*/*.parquet', hive_partitioning = true)""")
        for path in self.batch_files:
            con.execute(f"""CREATE OR REPLACE TABLE u AS
                SELECT * FROM '{path}' QUALIFY row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts DESC, event_id DESC) = 1""")
            match = ("t.user_id = u.user_id AND t.event_type = u.event_type"
                     " AND u.ts >= t.ts")
            con.execute(f"DELETE FROM t USING u WHERE {match} AND u._deleted")
            con.execute(f"""UPDATE t SET event_id = u.event_id,
                value = u.value, ts = u.ts FROM u
                WHERE {match} AND NOT u._deleted""")
            con.execute("""INSERT INTO t SELECT event_id, user_id,
                event_type, value, ts FROM u WHERE NOT _deleted
                AND NOT EXISTS (SELECT 1 FROM t WHERE t.user_id = u.user_id
                                AND t.event_type = u.event_type)""")
        want = rows_key(con.execute("SELECT * FROM t").fetchall())
        verdict = {}
        for op in ops:
            tbl = op.payload
            if tbl not in verdict:
                got = con.execute(f"""SELECT event_id, user_id, event_type,
                    value, ts FROM read_parquet('{tbl}/*/*.parquet',
                    hive_partitioning = true)""").fetchall()
                verdict[tbl] = rows_key(got) == want
            op.ok = verdict[tbl]

    def layers(self, ops, jobs_of, sql):
        trig = [o.extra["trigger_ms"] for o in ops]
        add = [o.extra["add_batch_ms"] for o in ops]
        applied, offered, written, cdc_in = 0, 0, 0, 0
        sizes = {f"b{i}": os.path.getsize(p)
                 for i, p in enumerate(self.batch_files)}
        for o in ops:
            s = o.extra["summary"]
            applied += s.get("updated", 0) + s.get("deleted", 0) \
                + s.get("inserted", 0)
            offered += self.size["batch_rows"]
            written += sum(j.output_bytes for j in jobs_of(o))
            cdc_in += sizes[o.op_id.rsplit("-", 1)[1]]
        tbl = ops[-1].payload
        files = sum(f.endswith(".parquet") for _, _, fs in os.walk(tbl)
                    for f in fs)
        return {
            "stream.trigger_ms": (statistics.median(trig), "ms"),
            "stream.add_batch_ms": (statistics.median(add), "ms"),
            "stream.overhead_ms": (statistics.median(
                t - a for t, a in zip(trig, add)), "ms"),
            "merge.jobs_per_batch": (statistics.mean(
                len(jobs_of(o)) for o in ops), "count"),
            "merge.applied_ratio": (applied / offered, "ratio"),
            "merge.rewrite_amp": (written / cdc_in, "ratio"),
            "merge.table_files": (files, "count"),
        }


# -------------------------------------------------------------- curate
class Curate(Workload):
    """Training-data curation operators over a generated corpus."""

    name = "curate"
    QUERIES = OPS = ("q_dedup_prefix", "q_simhash_eval", "q_minhash_eval",
                     "q_dedup_groups", "q_pipeline_llm")

    def setup(self):
        gen.write_tables(
            {"documents": gen.documents(self.rng, self.size["docs"])},
            self.data)

    def _query(self, name: str, op_id: str) -> Op:
        from movie_rec_spark.operators import dedup as D
        from movie_rec_spark.operators import text as T
        from movie_rec_spark.sources.catalog import load_table
        fn = T.q_pipeline_llm if name == "q_pipeline_llm" else getattr(D, name)

        def call():
            with self.tracer.span("catalog.load_table"):
                docs = load_table(self.spark, self.data, "documents")
            with self.tracer.span("build"):
                df = fn(docs)
            with self.tracer.span("collect"):
                return df, df.collect()
        op = self._timed(name, op_id, call)
        df, rows = op.payload
        if self.tracer.enabled:
            op.extra["plan"] = planning_phases(df)
        op.payload = (df.columns, rows)
        return op

    def run_round(self, r):
        ops = []
        for i, q in enumerate(self.QUERIES):
            if i:
                self.pause()
            ops.append(self._query(q, f"r{r}-{q}"))
        return ops

    def check(self, ops):
        import __spark_entry__ as E
        oracle = E.oracle_sql()
        con = _duck(self.data, ("documents",))
        want = {}
        for op in ops:
            cols, rows = op.payload
            if op.name not in want:
                res = con.execute(oracle[op.name])
                names = [d[0] for d in res.description]
                order = sorted(range(len(names)), key=names.__getitem__)
                want[op.name] = (sorted(names), rows_key(
                    [tuple(r[i] for i in order) for r in res.fetchall()]))
            order = sorted(range(len(cols)), key=cols.__getitem__)
            got = (sorted(cols),
                   rows_key([tuple(r[i] for i in order) for r in rows]))
            op.ok = got == want[op.name]
            op.extra["output_rows"] = len(rows)

    def layers(self, ops, jobs_of, sql):
        out = {}
        for q in self.QUERIES:
            mine = [o for o in ops if o.name == q]
            out[f"curate.{q}_s"] = (statistics.median(
                o.end - o.start for o in mine), "s")
            out[f"curate.{q}.output_rows"] = (mine[-1].extra["output_rows"],
                                              "count")
        for phase in ("analysis", "optimization", "planning"):
            out[f"plan.{phase}_ms"] = (statistics.median(
                o.extra["plan"][phase] for o in ops), "ms")
        return out


# --------------------------------------------------------------- batch
class Batch(Workload):
    """The batch side, as a freshly launched application runs it: one
    CDC replay through the write path, one refresh cycle, then one
    curation pass. No warm-up: a scheduled batch job pays its JIT
    warm-up, so the round is timed cold."""

    name = "batch"
    NOMINAL_ROUND_S = 45.0

    def __init__(self, *args):
        super().__init__(*args)
        self.parts = (Ingest(*args), Refresh(*args), Curate(*args))

    def setup(self):
        for p in self.parts:
            p.setup()

    def instrument(self):
        for p in self.parts:
            p.instrument()

    def run_round(self, r):
        ops = []
        for i, p in enumerate(self.parts):
            if i:
                self.pause()
            p.pause = self.pause
            ops += p.run_round(r)
        return ops

    def _split(self, ops):
        """The ops of each part, in ``parts`` order."""
        return [[o for o in ops if o.name in p.OPS] for p in self.parts]

    def check(self, ops):
        for p, mine in zip(self.parts, self._split(ops)):
            p.check(mine)

    def latency_ops(self, ops):
        """The curation queries: the triggers and the refresh cycle are
        ops of other kinds and sizes, timed by ``run_s``."""
        return self._split(ops)[2]

    def layers(self, ops, jobs_of, sql):
        out = {}
        for p, mine in zip(self.parts, self._split(ops)):
            out.update(p.layers(mine, jobs_of, sql))
        return out


WORKLOADS = {w.name: w for w in (Serve, Batch)}
