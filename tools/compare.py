#!/usr/bin/env python3
"""Check a graft.Verify dump against DuckDB.

Usage: python3 tools/compare.py SF_DIR OUT_DIR [NAME_PREFIX ...]

OUT_DIR is what `sbt "runMain graft.Verify SF_DIR OUT_DIR [prefix]"`
wrote: one parquet directory per probe plus oracle_sql.json, which maps
each SQL-expressible probe to its DuckDB twin. Each twin runs in DuckDB
over views of SF_DIR's parquet tables, and its result is compared with
the probe's dump: same column names, same number of rows, and the same
rows once every value is rendered as a string. Both sides go through
Arrow into pandas, so a type mismatch (DECIMAL vs DOUBLE, INT vs BIGINT)
shows as different strings.

With NAME_PREFIX arguments only the probes whose names start with one
of them are checked; without them every twin in oracle_sql.json is, and
a probe with no dump counts as a failure. Prints the seconds each twin
took in DuckDB, one line per mismatch, the total DuckDB seconds, and ends
with "ALL MATCH" (exit 0) or a failure count (exit 1).
"""
import json
import os
import sys
import time

import duckdb
import pyarrow.parquet as pq


def rows(table):
    df = table.to_pandas()
    cols = list(df.columns)
    return cols, sorted(zip(*(df[c].astype(str) for c in cols))) if cols else []


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    sf_dir, out_dir, prefixes = argv[1], argv[2], tuple(argv[3:])
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(sf_dir, name).replace("'", "''")
            con.execute(f"CREATE VIEW {name[:-len('.parquet')]} AS "
                        f"SELECT * FROM read_parquet('{path}')")
    failed = checked = 0
    duck_s = 0.0
    for name, sql in sorted(oracle.items()):
        if prefixes and not name.startswith(prefixes):
            continue
        checked += 1
        dump = os.path.join(out_dir, name)
        if not os.path.isdir(dump):
            print(f"MISSING  {name}: no dump at {dump}")
            failed += 1
            continue
        try:
            got_cols, got = rows(pq.read_table(dump))
            t0 = time.perf_counter()
            want_table = con.execute(sql).arrow()
            secs = time.perf_counter() - t0
            want_cols, want = rows(want_table)
        except Exception as e:  # a failing twin is a failed check
            print(f"ERROR    {name}: {type(e).__name__}: {e}")
            failed += 1
            continue
        duck_s += secs
        print(f"{secs:9.2f} s  {name}", flush=True)
        if got_cols != want_cols:
            print(f"COLUMNS  {name}: spark {got_cols} vs duckdb {want_cols}")
            failed += 1
        elif got != want:
            diff = next((g, w) for g, w in zip(got + [None] * len(want),
                                               want + [None] * len(got))
                        if g != w)
            print(f"MISMATCH {name}: {len(got)} vs {len(want)} rows; "
                  f"first difference spark {diff[0]} vs duckdb {diff[1]}")
            failed += 1
    print(f"{duck_s:9.2f} s  DuckDB total")
    if failed:
        print(f"{failed} of {checked} probes FAILED")
        return 1
    print(f"ALL MATCH ({checked} probes)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
