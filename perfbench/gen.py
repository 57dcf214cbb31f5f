"""Seeded input generator for the benchmark.

Everything the program under test reads is written here, from one seed:

- ``write_tables``: the ten fixture tables (TPC-H-like star schema, the
  ``events`` click stream, ``documents`` and ``embeddings``) with the same
  schemas and value shapes as the engine's standard fixtures, scaled by
  ``sf`` (sf 0.01 = 60k lineitem rows, 10k events over 150 users).
- ``write_ingest_files``: a backlog of event parquet files, one file per
  second of event time, with user keys Zipf-skewed over ``n_users``.
- ``poll_requests``: the serving workload's cursor-advancing request plan.
- ``write_inputs``: everything one workload reads, at the sizes below.
  ``perfbench/run.py`` calls it before the workload process starts, so
  input generation is not part of the measured process.

The same seed and parameters always give byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "signup", "purchase", "error"])
WORDS = np.array(
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter key agg scan slow table part a merge window "
    "order column join vector".split()
)
LANGS, LANG_P = np.array(["en", "de", "es", "fr", "zh"]), [0.5, 0.125, 0.125, 0.125, 0.125]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
P_ADJ = np.array(["red", "blue", "hot", "cold", "old", "new", "small", "large"])
P_NOUN = np.array(["widget", "gizmo", "bolt", "gear", "rod", "ring", "plate", "anvil"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86_400
ORDERS_START = dt.datetime(1995, 1, 1)
ORDERS_SPAN_DAYS = 2404  # 1995-01-01 .. 2001-08-01

# Ingest user skew: P(user k) ~ 1 / (k + 1) over the ``n_users`` ids, Zipf's
# law with its textbook exponent 1. It is not fitted to any measured trace:
# the reference client has no user distribution (each browser session is one
# user) and the fixture ``events`` table is uniform. At 10k rows per file
# over 15k users it gives ~3.1k distinct (user, window) state keys per
# micro-batch (0.31 of rows; uniform users would give 0.73), and the top
# user holds 10% of every file.
ZIPF_S = 1.0

# Input sizes per workload; ``smoke`` sizes are for the benchmark's tests.
ANALYTICS_SF, ANALYTICS_SMOKE_SF = 0.003, 0.001
SERVE_SF, SERVE_SMOKE_SF = 0.05, 0.002
DRAIN_FILES = 24
DRAIN_ROWS_PER_FILE, DRAIN_SMOKE_ROWS_PER_FILE = 10_000, 500
INGEST_USERS = 15_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: dt.datetime, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _events(rng: np.random.Generator, n: int, n_users: int) -> dict:
    offs_us = np.sort(rng.integers(0, EVENTS_SPAN_S * 1_000_000, n))
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.datetime64(EVENTS_START, "us") + offs_us.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(_money(rng, 0.01, 490.0, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one word swapped, so the
            # dedup and similarity plans have real candidate pairs
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
        else:
            words = WORDS[rng.integers(0, len(WORDS), rng.integers(8, 90))].tolist()
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    """64-dimensional unit vectors around 10 labelled centres."""
    centers = rng.normal(size=(10, 64))
    lab = rng.integers(0, 10, n)
    vecs = centers[lab] + 1.5 * rng.normal(size=(n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(lab.astype(np.int32)),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten fixture tables at scale ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(200, int(50_000 * sf)), max(200, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(np.char.add(np.char.add(P_ADJ[rng.integers(0, 8, n_part)], " "),
                                       P_NOUN[rng.integers(0, 8, n_part)])),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(P_TYPES[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 900.0, 500_000.0, n_ord)),
        "o_orderdate": _days(ORDERS_START, rng.integers(0, ORDERS_SPAN_DAYS + 1, n_ord)),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_ord)]),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": _days(ORDERS_START, rng.integers(1, ORDERS_SPAN_DAYS + 95, n_line)),
    })
    _write(out_dir, "events", _events(rng, n_ev, event_users(sf)))
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_vecs))


def event_users(sf: float) -> int:
    """Number of distinct users of the ``events`` table at scale ``sf``."""
    return max(15, int(15_000 * sf))


def write_events(out_dir: str, seed: int, sf: float) -> None:
    """Write only the ``events`` table at scale ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    _write(out_dir, "events", _events(np.random.default_rng([seed, 4]),
                                      int(1_000_000 * sf), event_users(sf)))


def write_ingest_files(out_dir: str, seed: int, files: int, rows_per_file: int,
                       n_users: int) -> None:
    """Write ``files`` event files, file k covering event-time second k of
    2024-01-01, with user ids Zipf(``ZIPF_S``)-skewed over ``n_users``.
    Files are named so lexical order is event-time order, and their mtimes
    ascend, so a file stream source reads them in event-time order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    base = np.datetime64(EVENTS_START, "us")
    t0 = 1_600_000_000
    p_user = np.arange(1, n_users + 1, dtype=np.float64) ** -ZIPF_S
    p_user /= p_user.sum()
    for k in range(files):
        n = rows_per_file
        users = rng.choice(n_users, n, p=p_user)
        offs = np.sort(rng.integers(0, 1_000_000, n)) + k * 1_000_000
        path = os.path.join(out_dir, f"ingest_{k:05d}.parquet")
        pq.write_table(pa.table({
            "event_id": pa.array(np.arange(k * n, (k + 1) * n, dtype=np.int64)),
            "ts": pa.array(base + offs.astype("timedelta64[us]"), type=pa.timestamp("us")),
            "user_id": pa.array(users.astype(np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(_money(rng, 0.01, 490.0, n)),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n)]),
        }), path)
        os.utime(path, (t0 + k, t0 + k))


def write_inputs(workload: str, work: str, seed: int, smoke: bool) -> None:
    """Write every input of ``workload`` under ``work``: the tables into
    ``work/tables`` and, for the drain, the backlog into ``work/ingest``."""
    tables = os.path.join(work, "tables")
    if workload == "analytics_mix":
        write_tables(tables, seed, ANALYTICS_SMOKE_SF if smoke else ANALYTICS_SF)
    else:
        write_events(tables, seed, SERVE_SMOKE_SF if smoke else SERVE_SF)
        write_ingest_files(os.path.join(work, "ingest"), seed, DRAIN_FILES,
                           DRAIN_SMOKE_ROWS_PER_FILE if smoke else DRAIN_ROWS_PER_FILE,
                           INGEST_USERS)


def poll_requests(seed: int, n: int, n_users: int, horizon_s: int, strides: int) -> list:
    """The serving workload's request plan: ``(user_id, after, upto)`` per
    poll. Users are drawn uniformly; each user's cursor advances one horizon
    per poll it receives, wrapping after ``strides`` horizons, like a fleet
    of clients at different positions in their own feeds."""
    rng = np.random.default_rng([seed, 3])
    cursor: dict[int, int] = {}
    out = []
    for user in rng.integers(0, n_users, n).tolist():
        k = cursor.get(user, int(rng.integers(0, strides)))
        cursor[user] = (k + 1) % strides
        after = EVENTS_START + dt.timedelta(seconds=k * horizon_s)
        out.append((user, after, after + dt.timedelta(seconds=horizon_s)))
    return out
