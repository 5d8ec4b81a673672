"""Seeded input generator for the benchmark.

Writes the ten parquet tables the engine reads (the TPC-H-style star
schema plus `events`, `documents` and `embeddings`) with the same
column names, types and value domains as the repository's test data.
The same (seed, scale) always gives byte-identical tables.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
EMB_DIM = 64
N_DOCS = 500
N_VECS = 500
N_USERS = 150

ORDER_DAY0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = (dt.datetime(2001, 8, 1) - ORDER_DAY0).days
SHIP_DAY0 = dt.datetime(1995, 1, 2)
SHIP_DAYS = (dt.datetime(2001, 11, 4) - SHIP_DAY0).days
EVENT_T0 = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86400 * 1_000_000


def _days(rng, day0, span, n):
    off = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return (np.datetime64(day0, "D") + off).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def sizes(scale):
    return {
        "customer": max(50, int(150_000 * scale)),
        "part": max(50, int(200_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "events": max(500, int(1_000_000 * scale)),
    }


def generate(out, seed, scale):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = sizes(scale)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, s)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})

    nc = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), s)})

    ns = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(ns)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), f64)})

    npart = n["part"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": pa.array([f"{c} {w}" for c, w in zip(
            rng.choice(COLORS, npart), rng.choice(NOUNS, npart))], s),
        "p_brand": pa.array([f"Brand#{k}" for k in
                             rng.integers(1, 26, npart)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, npart), s),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1), f64)})

    no = 10 * nc
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], no), s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no), f64),
        "o_orderdate": pa.array(_days(rng, ORDER_DAY0, ORDER_DAYS, no),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), s)})

    per_order = 1 + rng.binomial(12, 0.25, no)
    nl = int(per_order.sum())
    lineno = np.concatenate([np.arange(1, c + 1) for c in per_order])
    _write(out, "lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(no), per_order), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(lineno, i32),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl), f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl), s),
        "l_shipdate": pa.array(_days(rng, SHIP_DAY0, SHIP_DAYS, nl),
                               pa.timestamp("us"))})

    ne = n["events"]
    gaps = rng.exponential(1.0, ne)
    offs = (np.cumsum(gaps) / gaps.sum() * (EVENT_SPAN_US - 1)).astype(np.int64)
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(np.datetime64(EVENT_T0, "us") + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, ne), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne), s),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], s)})

    # documents: random word bags; 5% are near-duplicates, each of a
    # distinct doc of the first half (no chains, so every seed gives the
    # dedup queries the same number of duplicate pairs)
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100))))
             for _ in range(N_DOCS)]
    n_dup = N_DOCS // 20
    sources = rng.choice(N_DOCS // 2, n_dup, replace=False)
    targets = N_DOCS // 2 + rng.choice(N_DOCS - N_DOCS // 2, n_dup, replace=False)
    for src, dst in zip(sources, targets):
        texts[dst] = texts[src] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(N_DOCS), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P), s),
        "source": pa.array([f"src{d % 20}" for d in range(N_DOCS)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    # embeddings: unit vectors around one centroid per label
    labels = rng.integers(0, 10, N_VECS)
    centroids = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (N_VECS, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(N_VECS), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})

