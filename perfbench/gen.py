"""Seeded input generator: the ten tables graft's registered queries read.

The shapes follow the project's test tables (a TPC-H-like star schema, an
`events` stream, a `documents` corpus and an `embeddings` vector table):
same column names, parquet types and value ranges. Everything is drawn
from `numpy.random.default_rng(seed)`, so one seed always gives the same
bytes and another seed gives other values, another row order and other
near-duplicate documents.

Care carried over from the project's sf1 scale-up script: values that
queries sort and cut with LIMIT (account balances, order totals, extended
prices) are drawn without repeats, so no two rows tie at a LIMIT boundary,
the one place where Spark and DuckDB may legitimately disagree. Larger
inputs are generated at their own scale factor rather than replicated, so
that guarantee holds at every size.
"""
import os
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

VOCAB = ("spark line small fast group customer query row stream the part "
         "column order scan a slow agg key window table merge vector join "
         "batch sort value hash filter big data").split()
COLORS = "blue cold hot red small old new large".split()
NOUNS = "ring plate gear rod bolt anvil widget gizmo".split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIMS = 64


def _distinct_cents(rng, n, lo, hi):
    """n distinct values in [lo, hi) with two decimals, in random order:
    one per stratum of the range, jittered inside it."""
    lo_c, hi_c = int(round(lo * 100)), int(round(hi * 100))
    width = (hi_c - lo_c) // n
    assert width >= 1, "range too narrow for distinct cents"
    cents = lo_c + np.arange(n) * width + rng.integers(0, width, n)
    return rng.permutation(cents) / 100.0


def _days(rng, n, start, end):
    span = (end - start).days
    return (np.datetime64(start, "us")
            + rng.integers(0, span + 1, n).astype("timedelta64[D]"))


def base_tables(sf, seed):
    """One copy of every table at scale factor `sf`, as pyarrow tables."""
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_o, n_l, n_e = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_d, n_v = int(50000 * sf), max(500, int(20000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), i32),
        "c_acctbal": _distinct_cents(rng, n_c, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_c)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), i32),
        "s_acctbal": _distinct_cents(rng, n_s, -999.99, 9999.99)})
    names = np.array([f"{c} {n}" for c in COLORS for n in NOUNS])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p), i64),
        "p_name": names[rng.integers(0, len(names), n_p)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_p)],
        "p_type": np.array(TYPES)[rng.integers(0, 6, n_p)],
        "p_size": pa.array(rng.integers(1, 51, n_p), i32),
        "p_retailprice": np.round(900 + (np.arange(n_p) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), i64),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), i64),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_o)],
        "o_totalprice": _distinct_cents(rng, n_o, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_o, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_o)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), i64),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), i64),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), i32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _distinct_cents(rng, n_l, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": _days(rng, n_l, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_e))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), i64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(1, n_c // 10), n_e), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_e)],
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n_d)]
    # 5% near-duplicates: an earlier page's text plus a marker word
    for i in np.flatnonzero(rng.random(n_d) < 0.05):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_d), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": pa.array([len(x) for x in texts], i64)})
    v = rng.standard_normal((n_v, DIMS)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_v), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_v), i32)})
    return t


def write(tables, out_dir, seed):
    """Writes one parquet file per table; fact tables in a seeded row order
    (events stays in time order, as a stream table arrives)."""
    rng = np.random.default_rng([seed, 7])
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name in TABLES:
        tab = tables[name]
        if name not in ("region", "nation", "events"):
            tab = tab.take(rng.permutation(tab.num_rows))
        pq.write_table(tab, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out_dir)


def generate(out_dir, sf, seed):
    """Generates the inputs once; a present `out_dir` is the cache."""
    if os.path.isdir(out_dir):
        return False
    write(base_tables(sf, seed), out_dir, seed)
    return True
