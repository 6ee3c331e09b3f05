"""Seeded input generator for the graft benchmark.

Writes the ten tables graft reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one parquet file
each, with the column names, types and value ranges of graft's synthetic
test tables (see TESTDATA.md). The same (seed, sizes) always gives
byte-identical tables.

The `documents` table is a curation corpus: `base` random documents over
the schema's 31-word vocabulary, plus near-duplicates (token-edited copies
of a random base document) making up `neardup_share` of all documents.
Every document gets a fresh `doc_id` and a recomputed `n_chars`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _ts(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def _days(rng, n, start, end):
    lo = (np.datetime64(start, "D") - np.datetime64("1970-01-01", "D")).astype(np.int64)
    hi = (np.datetime64(end, "D") - np.datetime64("1970-01-01", "D")).astype(np.int64)
    return rng.integers(lo, hi + 1, n) * 86_400_000_000


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _edit(rng, toks):
    """A near-duplicate: ~6% of tokens substituted, deleted or inserted."""
    out = []
    for t in toks:
        r = rng.random()
        if r < 0.02:
            continue
        if r < 0.04:
            out.append(VOCAB[rng.integers(len(VOCAB))])
        elif r < 0.06:
            out.extend([t, VOCAB[rng.integers(len(VOCAB))]])
        else:
            out.append(t)
    return out or toks


def documents(rng, n_docs, neardup_share):
    n_dup = int(round(n_docs * neardup_share))
    n_base = n_docs - n_dup
    texts = []
    for _ in range(n_base):
        k = int(rng.integers(10, 101))
        texts.append([VOCAB[i] for i in rng.integers(0, len(VOCAB), k)])
    for _ in range(n_dup):
        texts.append(_edit(rng, texts[int(rng.integers(n_base))]))
    order = rng.permutation(n_docs)
    text = [" ".join(texts[i]) for i in order]
    return {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P).tolist()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    }


def embeddings(rng, n_vecs, dim=64, labels=10):
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n_vecs)
    v = centers[label] + rng.normal(0.0, 1.6, (n_vecs, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }


def generate(out, seed, sf, n_docs, neardup_share, n_vecs):
    """Write every table under `out` and return the input byte count."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))
    money = lambda lo, hi, n: pa.array(np.round(rng.uniform(lo, hi, n), 2))

    _write(out, "region", {
        "r_regionkey": i32(range(5)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"])})
    _write(out, "nation", {
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32([i % 5 for i in range(25)])})

    n_cust = max(int(150_000 * sf), 10)
    _write(out, "customer", {
        "c_custkey": i64(range(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE",
             "BUILDING"], n_cust).tolist())})

    n_supp = max(int(10_000 * sf), 10)
    _write(out, "supplier", {
        "s_suppkey": i64(range(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})

    n_part = max(int(200_000 * sf), 10)
    adj = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    _write(out, "part", {
        "p_partkey": i64(range(n_part)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(
            ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"],
            n_part).tolist()),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1))})

    n_ord = max(int(1_500_000 * sf), 10)
    _write(out, "orders", {
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord).tolist())})

    n_li = max(int(6_000_000 * sf), 10)
    _write(out, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": money(900.0, 105_000.0, n_li),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["N", "A", "R"], n_li).tolist()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li).tolist()),
        "l_shipdate": _ts(_days(rng, n_li, "1995-01-02", "2001-11-04"))})

    n_ev = max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 5)
    start = (np.datetime64("2024-01-01T00:00:00", "us") - EPOCH).astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out, "events", {
        "event_id": i64(range(n_ev)),
        "ts": _ts(ts),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(rng.choice(
            ["click", "signup", "error", "view", "purchase"], n_ev).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})

    _write(out, "documents", documents(rng, n_docs, neardup_share))
    _write(out, "embeddings", embeddings(rng, n_vecs))
    return sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out))
