#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Scores every query named in oracle_sql.json: runs its oracle SQL in
DuckDB against the same sfDir tables and compares it with the query's
result parquet under verifyOutDir: column names (sorted), row count, and
exact values after sorting columns by name and rows by all columns. A
query whose result is missing counts as a failure. Result directories
without an oracle get a rows-only check.
"""
import json
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    import glob
    import os
    outputs = {
        os.path.basename(p) for p in glob.glob(f"{out_dir}/*") if os.path.isdir(p)}
    n_pass = n_fail = n_noora = 0
    for name in sorted(outputs | set(oracle)):
        if name not in outputs:
            print(f"  [FAIL-miss] {name}: no result output")
            n_fail += 1
            continue
        got = pd.read_parquet(f"{out_dir}/{name}")
        if name not in oracle:
            print(f"  [rows-only] {name}: rows={len(got)}" +
                  (" EMPTY!" if len(got) == 0 else ""))
            n_noora += 1
            continue
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"  [FAIL-sql ] {name}: oracle error: {e}")
            n_fail += 1
            continue
        if sorted(got.columns) != sorted(exp.columns):
            print(f"  [FAIL-cols] {name}: got={sorted(got.columns)} exp={sorted(exp.columns)}")
            n_fail += 1
            continue
        if len(got) != len(exp):
            print(f"  [FAIL-rows] {name}: got={len(got)} exp={len(exp)}")
            n_fail += 1
            continue
        g, e = canon(got), canon(exp)
        # exact compare; show diffs if any.  NO dtype coercion: the driver
        # hashes raw values, so float64 5.0 vs int64 5 is a MISMATCH (this
        # leniency hid 5 round-1 failures — DuckDB SUM(INT) yields HUGEINT
        # which pandas renders as float64/object, vs Spark's int64).
        try:
            diff_cols = []
            for c in g.columns:
                gv, ev = g[c], e[c]
                if gv.dtype.kind != ev.dtype.kind:
                    # One tolerated coercion (driver hash-matched these in
                    # round 1): Spark DATE arrives as object-of-date while
                    # DuckDB DATE arrives as datetime64.
                    kinds = {gv.dtype.kind, ev.dtype.kind}
                    if kinds == {"O", "M"}:
                        try:
                            gv = pd.to_datetime(gv)
                            ev = pd.to_datetime(ev)
                        except Exception:
                            pass
                    if gv.dtype.kind != ev.dtype.kind:
                        diff_cols.append(
                            f"{c}: dtype-kind got={gv.dtype} exp={ev.dtype}")
                        continue
                eq = (gv.fillna("__N__") == ev.fillna("__N__")) \
                    if gv.dtype == object else \
                    ((gv == ev) | (gv.isna() & ev.isna()))
                if not eq.all():
                    bad = (~eq).idxmax()
                    diff_cols.append(
                        f"{c}[row{bad}]: got={gv[bad]!r} exp={ev[bad]!r}")
            if diff_cols:
                print(f"  [FAIL-val ] {name}: " + "; ".join(diff_cols[:4]))
                n_fail += 1
            else:
                print(f"  [ok       ] {name}: rows={len(got)}")
                n_pass += 1
        except Exception as ex:
            print(f"  [FAIL-cmp ] {name}: {ex}")
            n_fail += 1
    print(f"== pass={n_pass} fail={n_fail} rows_only={n_noora}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
