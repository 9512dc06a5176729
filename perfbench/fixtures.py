"""Seeded fixture tables for the gateway.

The gateway registers a directory of parquet tables: `events` (the click
log the dashboard queries Q1-Q17 read), the TPC-H-like star schema,
`documents` and `embeddings`. This module writes a directory of the same
shape from a seed, so a run never depends on data outside its checkout.
The same seed gives the same tables.

`events` follows the repo's sf0.1 fixture: 100,000 events over 30 days
from 1,500 users. The other tables are kept small: no workload of the
benchmark reads them, the gateway only registers them as views.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("a the data spark stream batch window row column table query join "
         "group sort hash scan filter merge agg key value part line order "
         "customer vector fast slow big small").split()
LANGS = [("en", 0.41), ("zh", 0.15), ("fr", 0.15), ("es", 0.15), ("de", 0.14)]


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def events_table(rng, n, users=1500, days=30):
    start_us = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC
    ts = np.sort(rng.integers(0, days * 86400 * 1_000_000, n)) + start_us
    value = np.round(rng.exponential(50.0, n), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents_table(rng, n, sources=20):
    langs = [l for l, _ in LANGS]
    probs = np.array([p for _, p in LANGS])
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), int(rng.integers(8, 90))))
             for _ in range(n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(langs)[rng.choice(len(langs), n, p=probs)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, sources, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(rng, n, dim=64, labels=10):
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    vec = centers[label] + rng.normal(0.0, 1.5, (n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def star_tables(rng, n=200):
    day = np.datetime64("1992-01-01", "ms")
    dates = (day + rng.integers(0, 2500, n).astype("timedelta64[D]")).astype("datetime64[ms]")
    return {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2)),
            "c_mktsegment": pa.array(np.array(["BUILDING", "MACHINERY", "FURNITURE"])[
                rng.integers(0, 3, n)])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
            "p_name": [f"part {i}" for i in range(n)],
            "p_brand": [f"Brand#{i % 25}" for i in range(n)],
            "p_type": pa.array(np.array(["SMALL", "LARGE", "ECONOMY"])[rng.integers(0, 3, n)]),
            "p_size": pa.array(rng.integers(1, 50, n).astype(np.int32)),
            "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, n), 2))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n, n, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, n), 2)),
            "o_orderdate": pa.array(dates, type=pa.timestamp("ms")),
            "o_orderpriority": pa.array(np.array(["1-URGENT", "3-MEDIUM", "5-LOW"])[
                rng.integers(0, 3, n)])}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n, n, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n, n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n, n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 50, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, n), 2)),
            "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100.0, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100.0, 2)),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(dates, type=pa.timestamp("ms"))}),
    }


def write_fixtures(out, seed, events=100_000, documents=200, embeddings=200):
    """Write every registry table into `out`, seeded; returns `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    _write(out, "events", events_table(rng, events))
    _write(out, "documents", documents_table(np.random.default_rng([seed, 2]), documents))
    _write(out, "embeddings", embeddings_table(np.random.default_rng([seed, 3]), embeddings))
    for name, table in star_tables(np.random.default_rng([seed, 4])).items():
        _write(out, name, table)
    return out
