"""Seeded generator of the tables graft's queries read: a TPC-H-like star
schema (region, nation, customer, supplier, part, orders, lineitem), an
event stream (events) and a small corpus (documents, embeddings), with the
column names, types and value ranges of the graded test data, at the
graded correctness scale. The same seed gives the same table contents.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
SEGMENTS = ["HOUSEHOLD", "FURNITURE", "BUILDING", "MACHINERY", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
ADJ = ["small", "new", "large", "hot", "cold", "red", "blue", "old"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]

# Scale factor of the generated tables (sf0.01: 60,000 lineitem rows).
SF = 0.01
N_CUST, N_SUPP = int(150000 * SF), int(10000 * SF)
N_PART, N_ORD, N_LINE = int(200000 * SF), int(1500000 * SF), int(6000000 * SF)
N_EV, N_USER = int(1000000 * SF), int(15000 * SF)
N_DOC = max(500, int(50000 * SF))
N_EMB = max(500, int(20000 * SF))


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"),
                    pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(N_CUST), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, N_CUST),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUST).tolist()})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPP), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, N_SUPP)})
    keys = np.arange(N_PART)
    _write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, N_PART),
                                              rng.choice(NOUN, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(TYPES, N_PART).tolist(),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": (9000 + keys % 1000) / 10.0})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(N_ORD), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORD), pa.int64()),
        "o_orderstatus": rng.choice(["O", "P", "F"], N_ORD).tolist(),
        "o_totalprice": money(1000, 500000, N_ORD),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", N_ORD),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORD).tolist()})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, N_ORD, N_LINE), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINE), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LINE), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINE), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINE).astype(np.float64),
        "l_extendedprice": money(900, 105000, N_LINE),
        "l_discount": np.round(rng.uniform(0, 0.1, N_LINE), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, N_LINE), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINE).tolist(),
        "l_linestatus": rng.choice(["O", "F"], N_LINE).tolist(),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", N_LINE)})

    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 10**6
    ts = np.sort(t0 + rng.integers(0, span, N_EV))
    _write(out, "events", {
        "event_id": pa.array(np.arange(N_EV), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USER, N_EV), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, N_EV).tolist(),
        "value": np.round(rng.exponential(50.0, N_EV), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EV)]})

    # documents: random word runs; about 5% near-duplicates of an earlier
    # document (its text plus " dup") and a few exact copies
    words = np.array(WORDS)
    texts = []
    for i in range(N_DOC):
        u = rng.random()
        if i > 10 and u < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and u < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS),
                                                     int(rng.integers(10, 101)))]))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(N_DOC), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOC, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(N_DOC)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    vec = rng.standard_normal((N_EMB, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(N_EMB), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMB), pa.int32())})

