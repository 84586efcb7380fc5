"""Seeded synthetic input tables in the layout graft's `Tables` reads.

Same schema and value distributions as the star-schema test corpus the
engine is gated on (TPC-H-ish dimensions and facts, an `events` stream
table, a `documents` text corpus with planted near-duplicates, and unit
`embeddings`), scaled by `scale` (1.0 = 60,000 lineitem rows). The same
seed always writes the same bytes.

    python3 perfbench/gen.py <out_dir> <seed> [scale]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]


def _ts(base, seconds):
    return (np.datetime64(base, "us")
            + (np.asarray(seconds) * 1_000_000).astype("int64").astype("timedelta64[us]"))


def _days(rng, n, start, end):
    span = (dt.date.fromisoformat(end) - dt.date.fromisoformat(start)).days
    return _ts(start, rng.integers(0, span + 1, n) * 86400)


def tables(seed, scale=1.0):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_line, n_evt = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_doc, n_vec, n_user = max(50, int(500 * scale)), max(50, int(500 * scale)), max(15, int(150 * scale))
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)}
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}
    adj = ["red", "blue", "hot", "cold", "new", "small", "large", "green"]
    noun = ["bolt", "ring", "rod", "plate", "gear", "anvil", "nut", "pipe"]
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)}
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")}
    ts_s = np.sort(rng.uniform(0, 30 * 86400, n_evt))
    t["events"] = {
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": _ts("2024-01-01", ts_s),
        "user_id": rng.integers(0, n_user, n_evt).astype("int64"),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:   # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype="int64"), "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64")}
    vec = rng.standard_normal((n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype("int32")}
    return t


def write(out, seed, scale=1.0):
    """Write every table to `<out>/<name>.parquet`; returns row counts."""
    os.makedirs(out, exist_ok=True)
    counts = {}
    for name, cols in tables(seed, scale).items():
        tbl = pa.table(cols)
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


if __name__ == "__main__":
    out, seed = sys.argv[1], int(sys.argv[2])
    print(write(out, seed, float(sys.argv[3]) if len(sys.argv) > 3 else 1.0))
