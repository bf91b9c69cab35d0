"""Seeded generator of the benchmark's input tables.

Writes the ten tables the engine's faces read (lineitem, orders, events,
documents, customer, part, supplier, nation, region, embeddings) as one
parquet file each, with the column names, Arrow types and value
distributions of the synthetic TPC-H-ish corpus the faces are graded
on. Row counts scale with `sf` the same way (lineitem = 6,000,000 x sf).
The same (seed, sf) always writes byte-identical tables.
"""
import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.5, 0.125, 0.125, 0.125, 0.125)


def _epoch_us(y, m, d):
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days * 86_400_000_000


def _days(rng, n, start, span_days):
    """`n` midnight timestamps (µs) uniform over `span_days` from `start`."""
    day = rng.integers(0, span_days, n).astype(np.int64)
    return _epoch_us(*start) + day * 86_400_000_000


def _ts(values):
    return pa.array(values, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    """Build every table in memory: {name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    n_orders = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_cust = max(1, int(150_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_events = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs = max(1, int(50_000 * sf))
    n_vecs = max(1, int(50_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adjs = ["blue", "red", "green", "small", "large", "steel", "brass", "black"]
    nouns = ["anvil", "widget", "bolt", "ring", "gear", "spring", "valve", "nut"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adjs, n_part),
                                              rng.choice(nouns, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(_days(rng, n_orders, (1995, 1, 1), 2404)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_orders)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_days(rng, n_line, (1995, 1, 2), 2499))})
    month_us = 30 * 86_400_000_000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _ts(_epoch_us(2024, 1, 1) + rng.integers(0, month_us, n_events)),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"],
                                 n_events),
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts, langs, sources = [], [], []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
        langs.append(LANGS[int(rng.choice(5, p=LANG_P))])
        sources.append(f"src{int(rng.integers(0, 20))}")
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts, "lang": langs, "source": sources,
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
    return out


def write(seed, sf, out_dir):
    """Write every table to `out_dir/<name>.parquet`; returns `out_dir`."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, out / f"{name}.parquet", compression="snappy")
    return out
