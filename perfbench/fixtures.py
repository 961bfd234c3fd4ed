"""Deterministic TPC-H-style parquet fixtures for the benchmark.

The tables have the schemas of the engine's test fixtures (``region`` …
``lineitem``, ``events``, ``documents``, ``embeddings``), one parquet
file each with one row group. Row counts scale with ``sf`` the way the
test fixtures do (lineitem = 6,000,000 × sf). Content depends only on
``FIXTURE_SEED``, never on the benchmark's ``--seed``, so the committed
oracle hashes in ``expected.json`` hold for every run.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 20201  # fixed: expected.json is keyed to it
ANALYTICS_SF = 0.02
MEDALLION_SF = 0.01
TABLES = (
    "region", "nation", "customer", "supplier", "orders", "lineitem",
    "events", "documents", "embeddings",
)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream group filter"
).split()
EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - EPOCH) // dt.timedelta(microseconds=1)


def _day_ts(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    days = rng.integers(0, (hi - lo).days + 1, n)
    return pa.array(_us(lo) + days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n: int) -> list[str]:
    """Random word sequences; every fifth document is a light edit of
    an earlier one, so MinHash/LSH and shared 5-grams find matches."""
    out: list[str] = []
    for i in range(n):
        if i >= 10 and i % 5 == 0:
            words = out[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))]
        out.append(" ".join(words))
    return out


def build(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(FIXTURE_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(50, int(15_000 * sf))
    n_docs = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _day_ts(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_li)],
        "l_shipdate": _day_ts(rng, n_li, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
    })
    month_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev)) + _us(dt.datetime(2024, 1, 1))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _texts(rng, n_docs)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": [("de", "en", "es", "fr", "it")[k] for k in rng.integers(0, 5, n_docs)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 1.5, (n_emb, 64))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write(sf: float, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
