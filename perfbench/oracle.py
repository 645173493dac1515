"""DuckDB oracle check of the batch workload's query results.

Same comparison as tools/compare_oracle.py: run each query's oracle SQL in
DuckDB over views named after the input tables, read the Spark result,
sort columns by name and compare row counts and values exactly.
"""
import glob
import json
import os
import sys

import duckdb


def mismatch(spark, duck):
    """None when the two frames agree, else a one-line reason."""
    sc, dc = sorted(spark.columns), sorted(duck.columns)
    if sc != dc:
        return f"columns spark={sc} duck={dc}"
    if len(spark) != len(duck):
        return f"rows spark={len(spark)} duck={len(duck)}"
    s, d = spark[sc].reset_index(drop=True), duck[dc].reset_index(drop=True)
    for c in sc:
        a, b = s[c], d[c]
        try:
            neq = ~(a.eq(b) | (a.isna() & b.isna()))
        except Exception:
            neq = a.astype(str) != b.astype(str)
        if neq.any():
            i = int(neq.idxmax())
            return f"col {c} row {i}: spark={a[i]!r} duck={b[i]!r} ({int(neq.sum())} diffs)"
    return None


def check(tables_dir, ref_dir):
    """Names of queries whose result disagrees with the oracle or has none."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for p in glob.glob(f"{tables_dir}/*.parquet"):
        con.sql(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(ref_dir, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    wrong = set()
    for q in sorted(d for d in os.listdir(ref_dir) if os.path.isdir(os.path.join(ref_dir, d))):
        try:
            why = mismatch(con.sql(f"SELECT * FROM read_parquet('{ref_dir}/{q}/*.parquet')").df(),
                           con.sql(sql[q]).df())
        except Exception as e:  # a failing oracle or unreadable result is a failed check
            why = f"error: {e}"
        if why:
            print(f"[perfbench] oracle FAIL {q}: {why}", file=sys.stderr)
            wrong.add(q)
    return wrong
