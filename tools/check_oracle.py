#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir>

Reads each <name>.parquet written by graft.Verify, runs the matching SQL
from oracle_sql.json in DuckDB (tables = parquet files in sf_dir, bare
stem names), and compares values with columns sorted by name. A query
whose Spark output cannot be read, or whose oracle raises (for example
DuckDB running out of memory), fails on its own and the loop moves on.
After the loop it writes <verify_out_dir>/correctness.json in the
driver's shape: query -> rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err (a check that could not run is null).
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
report = {}


def fail(name, msg, ran=True):
    """Report a failed check; a side that could not run also sets `err`."""
    print(f"FAIL {name}: {msg}")
    if not ran:
        report[name]["err"] = msg


for name, sql in sorted(oracle.items()):
    rec = report[name] = {"rows_match": None, "schema_match": None,
                          "hash_match": None, "spark_rows": None,
                          "oracle_rows": None, "err": None}
    spark_dir = os.path.join(out_dir, name)
    if not os.path.isdir(spark_dir):
        fail(name, "no spark output dir", ran=False)
        continue
    try:
        got = con.sql(f"SELECT * FROM '{spark_dir}/*.parquet'").df()
    except Exception as e:
        fail(name, f"spark read error: {first_line(e)}", ran=False)
        continue
    rec["spark_rows"] = len(got)
    try:
        want = con.sql(sql).df()
    except Exception as e:
        fail(name, f"oracle error: {first_line(e)}", ran=False)
        continue
    rec["oracle_rows"] = len(want)
    got = got[sorted(got.columns)].reset_index(drop=True)
    want = want[sorted(want.columns)].reset_index(drop=True)
    rec["schema_match"] = list(got.columns) == list(want.columns)
    rec["rows_match"] = len(got) == len(want)
    rec["hash_match"] = False
    if not rec["schema_match"]:
        fail(name, f"columns {list(got.columns)} vs {list(want.columns)}")
        continue
    if not rec["rows_match"]:
        fail(name, f"rows {len(got)} vs {len(want)}")
        continue
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      check_exact=True)
        rec["hash_match"] = True
        print(f"OK   {name} ({len(got)} rows)")
    except AssertionError as e:
        fail(name, first_line(e))
fails = sum(1 for r in report.values() if not r["hash_match"])
with open(os.path.join(out_dir, "correctness.json"), "w") as f:
    json.dump(report, f, indent=2)
    f.write("\n")
print(f"\n{len(oracle) - fails}/{len(oracle)} queries match")
sys.exit(1 if fails else 0)
