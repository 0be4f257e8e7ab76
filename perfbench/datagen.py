"""Tables the query workloads read: the TPC-H-style star schema plus the
events, documents and embeddings tables, with the schemas of the
engine's test fixtures (FIXTURES.md) and the distributions measured on
the sf0.1 fixture (`compare_tables.py` prints both side by side):

- row counts: 6 M x sf lineitem rows, whose `l_orderkey` is drawn
  uniformly from the orders (so ~1.8 % of orders have no lineitem) and
  `l_linenumber` uniformly from 1..7; documents max(500, 50 k x sf),
  embeddings max(500, 20 k x sf);
- documents: 10..99 tokens drawn uniformly from a 30-word vocabulary;
  5 % of the documents are replaced, one after another, by a copy of a
  random document with " dup" appended, so exact copies arise only when
  two near copies pick the same source (0.16 % of the sf0.1 fixture);
- embeddings: isotropic unit vectors (no cluster structure, no near
  duplicates) with labels drawn uniformly from 0..9;
- lineitem: `l_discount` and `l_tax` rounded from uniforms on [0, 0.10]
  and [0, 0.08] (the end values have half the weight);
- events: exponential gaps over 30 days, `value` exponential with mean 50.

The tables are a fixed function of the scale factor and GEN_SEED; a
workload's --seed only orders its query mix.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 20240101
# Bump when the generated tables change, so cached answers are rebuilt.
GEN_VERSION = 2

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

TABLES = ["region", "nation", "supplier", "customer", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _days(rng, n, start, end):
    """n timestamps at midnight, uniform over [start, end)."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir, sf):
    rng = np.random.default_rng(GEN_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_supp, n_cust = int(10_000 * sf), int(150_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_events = int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    tables = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    adj = np.array(PART_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, 8, n_part)]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 2)), ts),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})

    n_li = int(6_000_000 * sf)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        # rounded uniforms: the end values have half the weight
        "l_discount": np.round(rng.uniform(0, 0.10, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, n_li, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 5)), ts)})

    gaps = rng.exponential(2_592_000 / max(n_events, 1), n_events)
    t_us = np.datetime64("2024-01-01T00:00:00", "us") + \
        (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array(t_us, ts),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_events), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 100, n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[rng.integers(0, n_docs)] + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    vec = rng.normal(0, 1, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel(), pa.float32()), 64).cast(
                pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})

    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
