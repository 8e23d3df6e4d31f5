#!/usr/bin/env python3
"""Local simulation of the driver's DuckDB-oracle compare (t2 gate).

Usage: python3 tools/compare_oracle.py /tmp/verify_out /root/testdata/sf0.01
Loads each <name>/ parquet result produced by graft.Verify, runs the paired
oracle SQL from oracle_sql.json in DuckDB over views of the same testdata
parquet, and compares row counts, schemas, and values (columns sorted by
name, rows sorted, floats compared exactly after both engines' own
rounding).

       python3 tools/compare_oracle.py /tmp/verify_out --against /tmp/parent_out
Compares two graft.Verify dumps row for row instead: every query dumped
in both directories (rows-only queries included, which have no oracle),
canonicalized the same way and compared exactly. A query dumped on one
side only fails.
"""
import os
import json
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    # normalize dtypes for comparison
    for c in df.columns:
        if df[c].dtype == "object":
            df[c] = df[c].astype(str)
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        if str(df[c].dtype) in ("int8", "int16", "int32", "Int64", "uint64"):
            df[c] = df[c].astype("int64")
        if str(df[c].dtype) == "float32":
            df[c] = df[c].astype("float64")
    return df


def main(out_dir: str, sf_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = canon(con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
            want = canon(con.sql(sql).df())
            if list(got.columns) != list(want.columns):
                print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}")
                n_fail += 1
                continue
            if len(got) != len(want):
                print(f"FAIL {name}: rows {len(got)} vs {len(want)}")
                n_fail += 1
                continue
            # The driver's canonical hash formats ints and floats differently,
            # so an int-vs-float dtype mismatch fails there even when values
            # are equal (e.g. DuckDB HUGEINT -> pandas float64). Mirror that.
            kind_mismatch = [
                c for c in got.columns
                if {got[c].dtype.kind, want[c].dtype.kind} == {"i", "f"}
            ]
            if kind_mismatch:
                print(f"FAIL {name}: int-vs-float dtype on {kind_mismatch} "
                      f"(driver hash would mismatch even on equal values)")
                n_fail += 1
                continue
            try:
                pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
            except AssertionError as e:
                print(f"FAIL {name}: values differ: {str(e)[:400]}")
                n_fail += 1
                continue
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {str(e)[:300]}")
            n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail of {len(oracle)}")
    return 1 if n_fail else 0


def dumped(out_dir: str) -> set:
    return {d for d in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, d))}


def against(out_dir: str, parent_dir: str) -> int:
    con = duckdb.connect()
    names = dumped(out_dir) | dumped(parent_dir)
    n_pass = n_fail = 0
    for name in sorted(names):
        try:
            got = canon(con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
            want = canon(con.sql(f"SELECT * FROM '{parent_dir}/{name}/*.parquet'").df())
            if list(got.columns) != list(want.columns) or len(got) != len(want):
                print(f"FAIL {name}: shape {list(got.columns)} x {len(got)} "
                      f"vs {list(want.columns)} x {len(want)}")
                n_fail += 1
                continue
            pd.testing.assert_frame_equal(got, want, check_exact=True)
            print(f"SAME {name} ({len(got)} rows)")
            n_pass += 1
        except Exception as e:  # noqa: BLE001 — a missing dump or a value diff
            print(f"FAIL {name}: {str(e)[:400]}")
            n_fail += 1
    print(f"\n{n_pass} same / {n_fail} differ of {len(names)}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[2] == "--against":
        sys.exit(against(sys.argv[1], sys.argv[3]))
    sys.exit(main(sys.argv[1], sys.argv[2]))
