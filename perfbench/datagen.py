"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the catalog reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
single-row-group snappy Parquet file each, with the schemas, key ranges
and value distributions of the TPC-H-like test tables the catalog was
written against: uniform foreign keys, two-decimal money columns,
date columns as timezone-free microsecond timestamps, an events stream
ordered by id with exponential gaps, word-vocabulary documents with 5%
near-duplicates, and unit-norm 64-d float embeddings.

The data depends only on (scale factor, data seed); the workload seed of a
benchmark run never reaches it, so every run measures the same tables.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated bytes change, so cached data is regenerated.
VERSION = 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]

ORDER_EPOCH = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2405          # 1995-01-01 .. 2001-08-01
SHIP_EPOCH = dt.datetime(1995, 1, 2)
SHIP_DAYS = 2499           # 1995-01-02 .. 2001-11-04
EVENT_EPOCH = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86_400 * 1_000_000  # the stream covers 30 days


def row_counts(sf):
    n = lambda base: max(1, int(round(base * sf)))
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, epoch, span, n):
    base = np.datetime64(epoch, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(sf, seed):
    """Yield (name, pyarrow.Table) for every table, in a fixed order."""
    c = row_counts(sf)
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    n = c["customer"]
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n)})

    n = c["supplier"]
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})

    n = c["part"]
    keys = np.arange(n)
    yield "part", pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, ADJECTIVES, n),
                                               _pick(rng, NOUNS, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    n_orders = c["orders"]
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), i64),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n_orders), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _days(rng, ORDER_EPOCH, ORDER_DAYS, n_orders),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders)})

    n = c["lineitem"]
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), i64),
        "l_partkey": pa.array(rng.integers(0, c["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, SHIP_EPOCH, SHIP_DAYS, n)})

    n = c["events"]
    gaps = np.maximum(1, rng.exponential(EVENT_SPAN_US / n, n)).astype(np.int64)
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": np.datetime64(EVENT_EPOCH, "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 1500, n), i64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    n = c["documents"]
    lengths = rng.integers(10, 90, n)
    vocab = np.asarray(WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # 5% near-duplicates: another document's text with one extra token
    for d in rng.choice(n, n // 20, replace=False):
        texts[d] = texts[int(rng.integers(0, n))] + " dup"
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n), i64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    n = c["embeddings"]
    vecs = rng.standard_normal((n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), i32)})


def generate(out_dir, sf=0.1, seed=42):
    """Write every table under out_dir (atomically per file)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed):
        path = os.path.join(out_dir, f"{name}.parquet")
        tmp = path + ".tmp"
        pq.write_table(table, tmp, compression="snappy",
                       row_group_size=max(1, table.num_rows))
        os.replace(tmp, path)

