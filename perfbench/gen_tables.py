"""Seeded fixture tables for the query_mix workload: the TPC-H-like star
schema plus `events`, `documents` and `embeddings`, with the schemas and
value domains graft's queries and their DuckDB oracles expect. The same
seed always writes the same tables."""

import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table; lineitem is four lines per order on average
SIZES = {"customer": 750, "supplier": 50, "part": 1000, "orders": 7500,
         "events": 5000, "users": 100, "documents": 300, "embeddings": 300}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "rod", "plate", "screw", "valve"]
PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS, LANG_P = ["en", "zh", "es", "de", "fr"], [0.44, 0.15, 0.14, 0.14, 0.13]


def _days(rng, start, end, n):
    span = (end - start).days
    d = np.datetime64(start) + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def generate(out, seed):
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    _write(out, "region", {"r_regionkey": pa.array(range(5), i32),
                           "r_name": REGIONS})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), i32),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    nc = SIZES["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(range(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, nc), f64),
        "c_mktsegment": rng.choice(SEGMENTS, nc).tolist()})
    ns = SIZES["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, ns), f64)})
    npart = SIZES["part"]
    _write(out, "part", {
        "p_partkey": pa.array(range(npart), i64),
        "p_name": [f"{rng.choice(ADJ)} {rng.choice(NOUN)}" for _ in range(npart)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PTYPES, npart).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array([900 + (i % 1000) / 10 for i in range(npart)], f64)})
    no = SIZES["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(range(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": pa.array(money(1000, 500000, no), f64),
        "o_orderdate": _days(rng, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1), no),
        "o_orderpriority": rng.choice(PRIORITIES, no).tolist()})
    nl = 4 * no
    qty = rng.integers(1, 51, nl).astype(float)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, nl), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100, f64),
        "l_returnflag": rng.choice(["R", "A", "N"], nl).tolist(),
        "l_linestatus": rng.choice(["O", "F"], nl).tolist(),
        "l_shipdate": _days(rng, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4), nl)})

    ne = SIZES["events"]
    # distinct, increasing microsecond timestamps across January 2024
    gaps = rng.integers(1, 2 * 30 * 86400 * 10**6 // ne, ne)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": pa.array(range(ne), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, SIZES["users"], ne), i64),
        "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, ne), 2)), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = SIZES["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 100))))
    _write(out, "documents", {
        "doc_id": pa.array(range(nd), i64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    nv = SIZES["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (nv, 64)) + 0.2 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(range(nv), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
