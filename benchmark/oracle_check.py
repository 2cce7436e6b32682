#!/usr/bin/env python3
"""Cross-checks the query_mix results against the program's DuckDB
oracle SQL (SparkEntry.oracleSql), on the same generated tables.

    python3 benchmark/run.py --workload query_mix --seed 1 --seconds 1 --trace 0 \\
        --dump-queries /some/dir
    python3 benchmark/oracle_check.py /some/dir

The first command writes each query's result as parquet plus
oracle_sql.json; this script regenerates the tables next to them and
compares every result with its oracle, order-insensitively, with
floating-point values rounded to 6 significant digits (the rule the
benchmark's recorded fingerprints use). Prints OK/FAIL per query and
exits non-zero on any FAIL.

dedup_clusters is the exception: its oracle SQL joins every pair of
documents and does not finish in DuckDB in ten minutes on these tables.
For it the script computes the same definition in Python instead
(distinct word 3-shingles, Jaccard >= 0.7, connected components
labelled by their smallest doc_id), finding candidate pairs through an
inverted shingle index: a pair that shares no shingle has Jaccard 0.
"""
import json
import math
import os
import re
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

import gen_tables  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "null"
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return repr(v)
        return "%.6g" % v
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    return str(v)


def rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted("\t".join(canon(r[i]) for i in order) for r in cur.fetchall())


def dedup_clusters(con, threshold=0.7):
    """The dedup_clusters oracle, by inverted index rather than all pairs."""
    docs = con.execute("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchall()
    sh = {}
    for doc_id, text in docs:
        t = re.findall("[a-z0-9]+", (text or "").lower())
        s = {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}
        if s:
            sh[doc_id] = s
    index = {}
    for doc_id, s in sh.items():
        for g in s:
            index.setdefault(g, []).append(doc_id)
    parent = {d: d for d, _ in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    seen = set()
    for ids in index.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                if (a, b) in seen:
                    continue
                seen.add((a, b))
                sa, sb = sh[a], sh[b]
                if len(sa & sb) / len(sa | sb) >= threshold:
                    ra, rb = find(a), find(b)
                    parent[max(ra, rb)] = min(ra, rb)
    # union by smaller root keeps every root the component's smallest
    # id; columns in name order, as rows() renders them
    return ["cluster_id", "doc_id"], sorted("%d\t%d" % (find(d), d) for d, _ in docs)


def main(dump):
    tables = os.path.join(dump, "tables")
    gen_tables.generate(tables)
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')" % (t, tables, t))
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    failures = 0
    for name in sorted(d for d in os.listdir(dump) if os.path.isdir(os.path.join(dump, d)) and d != "tables"):
        if name not in oracle:
            print("SKIP %s: no oracle SQL" % name)
            continue
        s_cols, s_rows = rows(con, "SELECT * FROM read_parquet('%s/%s/*.parquet')" % (dump, name))
        if name == "dedup_clusters":
            o_cols, o_rows = dedup_clusters(con)
        else:
            o_cols, o_rows = rows(con, oracle[name])
        if s_cols != o_cols:
            print("FAIL %s: columns %s vs %s" % (name, s_cols, o_cols))
            failures += 1
        elif s_rows != o_rows:
            diff = sorted(set(s_rows) ^ set(o_rows))[:2]
            print("FAIL %s: %d vs %d rows, e.g. %s" % (name, len(s_rows), len(o_rows), diff))
            failures += 1
        else:
            print("OK   %s: %d rows" % (name, len(s_rows)))
    return failures


if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1]) else 0)
