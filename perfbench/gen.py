"""Seeded generator of the analytics tables.

Writes the ten tables the bench headline queries read (a TPC-H-like star
schema plus `events`, `documents` and `embeddings`) as one parquet file
each, with the column names and physical types of the repository's test
data, at SCALE times the row counts of TPC-H scale factor 1. The same
seed gives byte-identical tables.

Usage: python3 perfbench/gen.py OUT_DIR SEED
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
SCALE = 0.01


def pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), size=n, p=p)]


def days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, size=n).astype("timedelta64[D]")


def money(x):
    return np.round(x, 2)


def tables(seed, scale):
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * scale))
    n_doc = max(50, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), i32),
                              "r_name": pa.array(REGIONS, s)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array(rng.integers(0, 5, 25), i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(rng.uniform(-999.99, 9999.99, n_cust)), f64),
        "c_mktsegment": pa.array(pick(rng, SEGMENTS, n_cust), s)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(rng.uniform(-999.99, 9999.99, n_supp)), f64)})
    pk = np.arange(n_part)
    names = [f"{COLORS[a]} {NOUNS[b]}" for a, b in
             zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(names, s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(pick(rng, TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10.0, 2), f64)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(pick(rng, ["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(money(rng.uniform(1000, 500000, n_ord)), f64),
        "o_orderdate": pa.array(days(rng, "1995-01-01", 2400, n_ord), ts),
        "o_orderpriority": pa.array(pick(rng, PRIORITIES, n_ord), s)})
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    l_line = np.ones(n_line, dtype=np.int64)
    for i in range(1, n_line):  # line numbers count up within an order
        if l_order[i] == l_order[i - 1]:
            l_line[i] = l_line[i - 1] + 1
    perm = rng.permutation(n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order[perm], i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(l_line[perm], i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(money(qty * rng.uniform(900, 2100, n_line)), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(pick(rng, ["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(pick(rng, ["F", "O"], n_line), s),
        "l_shipdate": pa.array(days(rng, "1995-01-02", 2500, n_line), ts)})
    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_ts.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, max(150, n_ev // 66), n_ev), i64),
        "event_type": pa.array(pick(rng, EVENT_TYPES, n_ev), s),
        "value": pa.array(money(rng.exponential(50.0, n_ev)) + 0.01, f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(pick(rng, WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(pick(rng, LANGS, n_doc, LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_emb, 64))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return out


def main():
    out_dir, seed = sys.argv[1], int(sys.argv[2])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, SCALE).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main()
