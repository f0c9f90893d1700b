"""Seeded generator for the parquet tables the query workloads read.

The tables copy the schemas and value distributions of the star-schema
fixtures the query surface is written against (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings; see
FIXTURES.md part B): uniform keys and categories, sorted microsecond event
times, exponential event values, 30-word documents with 5% near-duplicates,
and unit-norm 64-dimensional embeddings. Timestamps are stored as
timestamp[us] without a zone, as in the current fixture generation.

Row counts follow the fixtures' scale rule, so `scale=0.1` gives the
sf0.1 sizes (600k lineitem rows).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
PART_ADJ = ["small", "red", "blue", "new", "hot", "old", "big", "green"]
PART_NOUN = ["ring", "widget", "bolt", "anvil", "rod", "plate", "gear", "pipe"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

US_PER_DAY = 86_400_000_000


def _days_us(start, days, rng, n):
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, days + 1, n) * US_PER_DAY


def _ts(values_us):
    return pa.array(values_us, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, options, n, p=None):
    return np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)]


def counts(scale):
    """Row counts per table at `scale` (the fixtures' sf rule)."""
    return {
        "customer": int(150_000 * scale), "supplier": int(10_000 * scale),
        "part": int(200_000 * scale), "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale), "events": int(1_000_000 * scale),
        "users": int(15_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    idx = rng.permutation(n)
    near = idx[: n // 20]                   # 5%: another text + " dup"
    exact = idx[n // 20: n // 20 + max(1, n // 600)]  # ~0.16%: verbatim copy
    originals = idx[n // 20 + len(exact):]
    for i in near:
        texts[i] = texts[rng.choice(originals)] + " dup"
    for i in exact:
        texts[i] = texts[rng.choice(originals)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64):
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    v = centers[labels] * 0.5 + rng.normal(0, 1, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def generate(out_dir, seed, scale):
    """Write every table as `<out_dir>/<table>.parquet`; returns row counts."""
    rng = np.random.default_rng(seed)
    c = counts(scale)
    os.makedirs(out_dir, exist_ok=True)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = c["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n), pa.string())})
    n = c["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = c["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(n)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(_pick(rng, names, n), pa.string()),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": pa.array(_pick(rng, PART_TYPES, n), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1)})
    n = c["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n), pa.int64()),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n), pa.string()),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _ts(_days_us("1995-01-01", 2403, rng, n)),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n), pa.string())})
    n = c["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, c["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, c["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], n), pa.string()),
        "l_shipdate": _ts(_days_us("1995-01-02", 2498, rng, n))})
    n = c["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * US_PER_DAY, n))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, c["users"], n), pa.int64()),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n), pa.string()),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    t["documents"] = documents(rng, c["documents"])
    t["embeddings"] = embeddings(rng, c["embeddings"])
    for name in TABLES:
        pq.write_table(t[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: t[name].num_rows for name in TABLES}

