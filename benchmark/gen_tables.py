#!/usr/bin/env python3
"""Generates the query_mix tables: the ten tables the queries read
(region nation customer supplier part orders lineitem events documents
embeddings), at scale factor 0.1, one parquet file of one row group
each, with the column names and types the program's table loaders
expect.

    python3 benchmark/gen_tables.py OUT_DIR [--compare REF_DIR]

At its fixed seed, SEED, every value equals the repository's sf0.1
test data (TESTDATA.md): the draws below replay that data's generator
call for call, so the queries see the same documents, duplicates,
embeddings and events, not a look-alike. `--compare REF_DIR` checks
this, table by table and column by column, and exits 1 on a mismatch.
"""
import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
# the test data's seed; the tables and expected_queries.tsv depend on it
SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
# category lists in the order the draws index them
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
ORDER_STATUS = ["O", "F", "P"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("the a spark query table join group filter window data order customer part line "
         "fast slow big small hash sort merge scan agg stream batch vector key value row "
         "column").split()
# three of seven documents are English
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
N_DUP_DOCS = 250


def days(base, n_days):
    return np.datetime64(base, "us") + n_days.astype("int64").astype("timedelta64[D]")


def pick(values, idx):
    return np.array(values)[idx]


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"), row_group_size=1 << 22)


def generate(out):
    os.makedirs(out, exist_ok=True)
    r = np.random.default_rng(SEED)
    n_cust, n_ord, n_li = int(150000 * SF), int(1500000 * SF), int(6000000 * SF)
    n_part, n_supp, n_ev, n_doc, n_emb = int(200000 * SF), int(10000 * SF), 100000, 5000, 2000

    write(out, "region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                          "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                          "n_name": ["NATION_%d" % i for i in range(25)],
                          "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pick(SEGMENTS, r.integers(0, 5, n_cust))})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
    adj, noun = r.integers(0, 8, n_part), r.integers(0, 8, n_part)
    write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [ADJ[a] + " " + NOUN[b] for a, b in zip(adj, noun)],
        "p_brand": ["Brand#%d" % b for b in r.integers(1, 26, n_part)],
        "p_type": pick(TYPES, r.integers(0, 6, n_part)),
        "p_size": pa.array(r.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pick(ORDER_STATUS, r.integers(0, 3, n_ord)),
        "o_totalprice": np.round(r.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": days("1995-01-01", r.integers(0, 2405, n_ord)),
        "o_orderpriority": pick(PRIORITIES, r.integers(0, 5, n_ord))})
    write(out, "lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(r.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(r.uniform(0, 0.08, n_li), 2),
        "l_returnflag": pick(RETURN_FLAGS, r.integers(0, 3, n_li)),
        "l_linestatus": pick(LINE_STATUS, r.integers(0, 2, n_li)),
        "l_shipdate": days("1995-01-02", r.integers(0, 2499, n_li))})

    # events: a month of sorted arrivals, truncated to microseconds
    secs = np.sort(r.uniform(0, 30 * 86400, n_ev))
    ts = (np.datetime64("2024-01-01", "ns") + (secs * 1e9).astype("timedelta64[ns]")).astype("datetime64[us]")
    write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": r.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": pick(EVENT_TYPES, r.integers(0, 5, n_ev)),
        "value": np.round(r.exponential(50, n_ev), 2),
        "props": ['{"k": %d}' % k for k in r.integers(0, 100, n_ev)]})

    # documents: 10-99 random words each; then 250 distinct documents
    # become a copy of a random document plus the word "dup", in draw
    # order, so a copy of a copy ends in "dup dup" and two copies of one
    # source are exact duplicates of each other
    texts = []
    for _ in range(n_doc):
        n_words = int(r.integers(10, 100))
        texts.append(" ".join(VOCAB[w] for w in r.integers(0, len(VOCAB), n_words)))
    dup_idx = r.choice(n_doc, N_DUP_DOCS, replace=False)
    for i, src in zip(dup_idx, r.integers(0, n_doc, N_DUP_DOCS)):
        texts[i] = texts[src] + " dup"
    write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(LANGS, r.integers(0, len(LANGS), n_doc)),
        "source": ["src%d" % (i % 20) for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # embeddings: unit vectors in 64 dimensions, uniform on the sphere,
    # with labels drawn independently of them
    v = r.normal(size=(n_emb, 64)).astype(np.float32)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb).astype(np.int32))})


def compare(out, ref):
    """Prints one line per table; returns the number of tables whose
    schema or values differ from REF's."""
    bad = 0
    for t in TABLES:
        a = pq.read_table(os.path.join(out, t + ".parquet")).replace_schema_metadata(None)
        b = pq.read_table(os.path.join(ref, t + ".parquet")).replace_schema_metadata(None)
        if a.schema != b.schema:
            print("%-10s schema differs:\n%s\n--\n%s" % (t, a.schema, b.schema))
            bad += 1
            continue
        diff = [c for c in a.column_names if not a.column(c).equals(b.column(c))]
        print("%-10s %8d rows  %s" % (t, a.num_rows, "differs in " + " ".join(diff) if diff else "equal"))
        bad += bool(diff)
    return bad


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--compare", metavar="REF_DIR",
                    help="compare the generated tables with the parquet tables in REF_DIR")
    a = ap.parse_args()
    generate(a.out)
    if a.compare:
        sys.exit(1 if compare(a.out, a.compare) else 0)
