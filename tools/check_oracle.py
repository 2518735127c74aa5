#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir>

Reads each <name>.parquet written by graft.Verify, runs the matching SQL
from oracle_sql.json in DuckDB (tables = parquet files in sf_dir, bare
stem names), and compares values with columns sorted by name. A query
whose Spark output cannot be read, or whose oracle raises (for example
DuckDB running out of memory), fails on its own and the loop moves on.
"""
import json, sys, glob, os
import duckdb
import pandas as pd

out_dir, sf_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")


def first_line(e):
    return (str(e).splitlines() or [type(e).__name__])[0]


oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
fails = 0
for name, sql in sorted(oracle.items()):
    spark_dir = os.path.join(out_dir, name)
    if not os.path.isdir(spark_dir):
        print(f"FAIL {name}: no spark output dir")
        fails += 1
        continue
    try:
        got = con.sql(f"SELECT * FROM '{spark_dir}/*.parquet'").df()
    except Exception as e:
        print(f"FAIL {name}: spark read error: {first_line(e)}")
        fails += 1
        continue
    try:
        want = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: oracle error: {first_line(e)}")
        fails += 1
        continue
    got = got[sorted(got.columns)].reset_index(drop=True)
    want = want[sorted(want.columns)].reset_index(drop=True)
    if list(got.columns) != list(want.columns):
        print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}")
        fails += 1
        continue
    if len(got) != len(want):
        print(f"FAIL {name}: rows {len(got)} vs {len(want)}")
        fails += 1
        continue
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      check_exact=True)
        print(f"OK   {name} ({len(got)} rows)")
    except AssertionError as e:
        print(f"FAIL {name}: {first_line(e)}")
        fails += 1
print(f"\n{len(oracle) - fails}/{len(oracle)} queries match")
sys.exit(1 if fails else 0)
