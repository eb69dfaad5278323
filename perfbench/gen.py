"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's query inventory reads (`<dir>/<name>.parquet`,
one file each) with the same schemas and value distributions as the engine's
synthetic test data: a TPC-H-shaped star schema, an `events` stream table, a
`documents` corpus with near-duplicates and an `embeddings` table of unit
vectors clustered by label. The same (seed, scale) always gives the same bytes.

Usage: python3 gen.py <out_dir> <seed> [scale]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
NOUNS = ["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64
EPOCH = dt.datetime(1970, 1, 1)


def _days_us(first, last, n, rng):
    """n uniform calendar days in [first, last], as epoch microseconds."""
    lo = (first - EPOCH).days
    hi = (last - EPOCH).days
    return rng.integers(lo, hi + 1, n).astype("int64") * 86_400_000_000


def _ts(us):
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, scale):
    """Return {name: pyarrow.Table} for one (seed, scale)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust = max(15, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_ord = max(150, int(1_500_000 * scale))
    n_line = max(600, int(6_000_000 * scale))
    n_ev = max(100, int(1_000_000 * scale))
    n_users = max(5, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust, dtype="int64")
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    sk = np.arange(n_supp, dtype="int64")
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype="int64")
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n_part),
                                              rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_days_us(dt.datetime(1995, 1, 1),
                                    dt.datetime(2001, 8, 1), n_ord, rng)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_days_us(dt.datetime(1995, 1, 2),
                                   dt.datetime(2001, 11, 4), n_line, rng))})
    ev_start = (dt.datetime(2024, 1, 1) - EPOCH).days * 86_400_000_000
    ev_span = 30 * 86_400_000_000
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ev_start + np.sort(rng.integers(0, ev_span, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        # about 5% of documents repeat an earlier one with a trailing token
        # (near-duplicates for the dedup operators)
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    centers = rng.standard_normal((10, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = 1.13 * centers[labels] + rng.standard_normal((n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(out_dir, seed, scale):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]),
          float(sys.argv[3]) if len(sys.argv) > 3 else 0.01)
