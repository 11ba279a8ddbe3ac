#!/usr/bin/env python3
"""Compare graft.Verify output against its DuckDB oracle SQL.

Usage:
    python3 scripts/oracle_compare.py SF_DIR OUT_DIR [--baseline OTHER_OUT]

SF_DIR holds the input tables as <name>.parquet; OUT_DIR is what
`graft.Verify SF_DIR OUT_DIR` wrote: one <query>/ parquet directory per
query plus oracle_sql.json. Each oracle query runs in DuckDB over views
named after the tables, and its rows are compared with the Spark rows as
strings, with columns in sorted-name order and rows sorted. With
--baseline, each query's Spark rows must also equal those of a second
Verify output (for example the parent commit's). Prints one line per
query and a total; exits 1 on any mismatch.
"""
import argparse
import json
import os
import sys

import duckdb


def rows(con, sql):
    rel = con.sql(sql)
    cols = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    return sorted(tuple(str(r[i]) for i in cols) for r in rel.fetchall())


def spark_rows(con, out, query):
    return rows(con, f"SELECT * FROM parquet_scan('{out}/{query}/*.parquet')")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--baseline")
    a = ap.parse_args()
    con = duckdb.connect()
    for f in sorted(os.listdir(a.sf_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * "
                    f"FROM parquet_scan('{os.path.join(a.sf_dir, f)}')")
    with open(os.path.join(a.out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    ok = 0
    for q in sorted(oracle):
        try:
            got = spark_rows(con, a.out_dir, q)
            status = "match" if got == rows(con, oracle[q]) else "MISMATCH"
            if status == "match" and a.baseline and \
                    got != spark_rows(con, a.baseline, q):
                status = "DIFFERS_FROM_BASELINE"
        except Exception as e:  # missing output or failing SQL
            got, status = [], f"ERROR {type(e).__name__}: {e}".splitlines()[0]
        ok += status == "match"
        print(f"{q}\t{status}\t{len(got)} rows")
    print(f"total {ok}/{len(oracle)} match")
    sys.exit(0 if ok == len(oracle) else 1)


if __name__ == "__main__":
    main()
