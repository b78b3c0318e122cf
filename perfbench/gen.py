"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` and a size, and
returns pyarrow tables whose row counts and shares depend only on the
size: the seed decides *which* rows are re-rated, perturbed, deleted or
late, never *how many*. Timestamps are microsecond precision, so the
engine's catalog reads them without its nanosecond fallback.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table value vector window the a index shard cache plan stage task "
    "spill frame model rank score"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
NAMES = ("red", "small", "hot", "old", "blue", "green", "large", "cold")
THINGS = ("widget", "ring", "plate", "rod", "gear", "valve", "bolt", "lamp")
LINES_PER_ORDER = np.arange(1, 8)        # 1..7 lines, mean 4 (TPC-H)
EPOCH = dt.datetime(2024, 1, 1)

# Shares fixed by the benchmark; the seed only picks the rows.
RERATE_SHARE = 0.10     # refresh: rows re-rated later with a newer ts
IMPLICIT_SHARE = 0.05   # refresh: watch-without-rating rows (rating null)
NEARDUP_SHARE = 0.10    # curate: documents that are perturbed copies
TOMBSTONE_SHARE = 0.05  # ingest: CDC rows that delete their key
LATE_SHARE = 0.10       # ingest: CDC rows older than the resident version
INSERT_SHARE = 0.20     # ingest: CDC rows for keys the table lacks


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("int64"), type=pa.timestamp("us"))


def _exact(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """Boolean mask with exactly round(n * share) true entries."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.choice(n, size=int(round(n * share)), replace=False)] = True
    return mask


def star(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The serving tables (part, customer, orders, lineitem) at TPC-H
    proportions: 200k parts, 150k customers and 1.5M orders per unit
    of ``sf``, with exactly four lines per order on average."""
    n_part = max(20, int(200_000 * sf))
    n_cust = max(15, int(150_000 * sf))
    n_ord = max(70, int(1_500_000 * sf)) // 7 * 7
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{NAMES[a]} {THINGS[b]}" for a, b in zip(
            rng.integers(0, len(NAMES), n_part),
            rng.integers(0, len(THINGS), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + rng.random(n_part) * 1100, 2),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.random(n_cust) * 10_000 - 1_000, 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    day = 86_400 * 1_000_000
    o_date = (dt.datetime(1995, 1, 1) - dt.datetime(1970, 1, 1)).days * day \
        + rng.integers(0, 2400, n_ord) * day
    lines = rng.permutation(np.tile(LINES_PER_ORDER, n_ord // 7))
    n_line = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_line).astype("float64")
    price = np.round(qty * (900 + rng.random(n_line) * 1100), 2)
    lineitem = pa.table({
        "l_orderkey": l_order,
        # skewed popularity: a few parts are ordered far more often
        "l_partkey": (rng.zipf(1.3, n_line) - 1) % n_part,
        "l_suppkey": rng.integers(0, max(1, n_part // 20), n_line),
        "l_linenumber": l_number.astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(o_date[l_order]
                          + rng.integers(1, 122, n_line) * day),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(
            np.bincount(l_order, weights=price, minlength=n_ord), 2),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord),
    })
    return {"part": part, "customer": customer, "orders": orders,
            "lineitem": lineitem}


def raw_ratings(rng: np.random.Generator, star_tables: dict[str, pa.Table]
                ) -> pa.Table:
    """Raw rating log derived from lineitem ⋈ orders: one rating per
    line (user = customer, movie = part, half-star rating from the
    quantity), plus RERATE_SHARE re-rates of existing lines with a newer
    timestamp; IMPLICIT_SHARE of all rows are implicit watches."""
    li, od = star_tables["lineitem"], star_tables["orders"]
    user = od["o_custkey"].to_numpy()[li["l_orderkey"].to_numpy()]
    movie = li["l_partkey"].to_numpy()
    n = len(movie)
    rating = np.clip(np.round(li["l_quantity"].to_numpy() / 10 * 2) / 2,
                     0.5, 5.0)
    ts = EPOCH.timestamp() * 1e6 + rng.integers(0, 90 * 86_400, n) * 1e6
    re = np.flatnonzero(_exact(rng, n, RERATE_SHARE))
    user = np.concatenate([user, user[re]])
    movie = np.concatenate([movie, movie[re]])
    rating = np.concatenate([rating, rng.integers(1, 11, len(re)) / 2])
    ts = np.concatenate([ts, ts[re] + rng.integers(1, 30 * 86_400,
                                                   len(re)) * 1e6])
    implicit = _exact(rng, len(user), IMPLICIT_SHARE)
    return pa.table({
        "user_id": pa.array(user.astype("int32")),
        "movie_id": pa.array(movie.astype("int32")),
        "rating": pa.array(np.where(implicit, np.nan, rating),
                           mask=implicit),
        "is_implicit": pa.array(implicit),
        "ts": _ts(ts),
    })


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """A corpus of ``n`` word documents of which NEARDUP_SHARE are
    copies of another document with one to three words replaced."""
    n_dup = int(round(n * NEARDUP_SHARE))
    n_base = n - n_dup
    texts = [" ".join(rng.choice(WORDS, rng.integers(20, 90)))
             for _ in range(n_base)]
    for src in rng.choice(n_base, n_dup):
        toks = texts[src].split()
        for pos in rng.choice(len(toks), rng.integers(1, 4), replace=False):
            toks[pos] = WORDS[rng.integers(len(WORDS))]
        texts.append(" ".join(toks))
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i % len(LANGS)] for i in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """``n`` user events over 30 days; ``event_id`` is ts-ordered."""
    ts = np.sort(EPOCH.timestamp() * 1e6
                 + rng.integers(0, 30 * 86_400 * 1_000_000, n))
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.random(n) * 50, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def cdc_batches(rng: np.random.Generator, resident: pa.Table, n_batches: int,
                batch_rows: int, n_users: int) -> list[pa.Table]:
    """Change batches against ``resident`` (one row per (user_id,
    event_type)). Each batch holds ``batch_rows`` rows: updates of
    resident keys with a newer ts, INSERT_SHARE new keys, LATE_SHARE
    versions older than the resident row, and TOMBSTONE_SHARE deletes.
    The last batch is a redelivery of a seed-chosen earlier one."""
    n = (n_batches - 1) * batch_rows
    keys_u = resident["user_id"].to_numpy()
    keys_t = resident["event_type"].to_numpy(zero_copy_only=False)
    keys_ts = resident["ts"].to_numpy().astype("datetime64[us]").astype(
        "int64")
    pick = rng.integers(0, len(keys_u), n)
    user, etype, base_ts = keys_u[pick], keys_t[pick].copy(), keys_ts[pick]
    ins = _exact(rng, n, INSERT_SHARE)
    user = np.where(ins, n_users + rng.integers(0, n_users, n), user)
    late = _exact(rng, n, LATE_SHARE) & ~ins
    hour = 3_600 * 1_000_000
    ts = np.where(late, base_ts - rng.integers(1, 48, n) * hour,
                  base_ts + rng.integers(1, 24 * 30, n) * hour)
    tomb = _exact(rng, n, TOMBSTONE_SHARE)
    rows = pa.table({
        "event_id": np.arange(10**9, 10**9 + n, dtype="int64"),
        "user_id": user.astype("int64"),
        "event_type": etype,
        "value": np.round(rng.random(n) * 50, 2),
        "ts": _ts(ts),
        "_deleted": tomb,
    })
    order = rng.permutation(n)
    batches = [rows.take(order[i * batch_rows:(i + 1) * batch_rows])
               for i in range(n_batches - 1)]
    batches.append(batches[int(rng.integers(0, n_batches - 1))])
    return batches


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table, the catalog's layout."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
