#!/usr/bin/env python3
"""Confirm expected.json against DuckDB.

    python3 perfbench/oracle_check.py

Runs the DuckDB twin of every operation that has one over the same inputs
the benchmark generates: the `SparkEntry.oracleSql` twin of each batch
query, and the WxOracles-built twin (graft.weather.WxCatalogOracles) of
each valid weather request. Each result is hashed with stats.result_hash
and compared with the row count and hash the engine produced
(expected.json). Prints one line per operation and exits 1 on any
disagreement. Needs python3 with duckdb.
"""

import json
import os
import sys
import time

import duckdb

import gen_data
import run
import stats


def oracle_sql():
    bdir = run.build_dir()
    launch = run.ensure_built(bdir)
    run_dir = os.path.join(bdir, "runs", f"oracle-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    out = os.path.join(run_dir, "oracle.json")
    rc = run.launch_jvm(launch, {"mode": "oracle", "out": out}, run_dir, time.time() + 120)
    with open(out) as f:
        res = json.load(f)
    if rc != 0 or "fatal" in res:
        sys.exit(f"oracle SQL dump failed: {res.get('fatal')} (exit {rc})")
    return bdir, res


def main():
    bdir, sql = oracle_sql()
    data_dir = os.path.join(bdir, "data")
    fingerprint = gen_data.ensure(data_dir)
    with open(os.path.join(run.HERE, "expected.json")) as f:
        expected = json.load(f)
    if expected["data_fingerprint"] != fingerprint:
        sys.exit("expected.json was made from other inputs")
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    twins = {name: ("wx_tool_calls", q) for name, q in sql["wx"].items()}
    for w, ops in expected["workloads"].items():
        if w != "wx_tool_calls":
            twins.update({n: (w, sql["queries"].get(n)) for n in ops})
    bad = 0
    for name, (w, q) in sorted(twins.items(), key=lambda kv: (kv[1][0], kv[0])):
        exp = expected["workloads"][w][name]
        if q is None:
            print(f"{w:14s} {name:32s} no oracle twin")
            continue
        try:
            cur = con.execute(q)
            cols = [d[0] for d in cur.description]
            got = stats.result_hash(cols, cur.fetchall())
        except duckdb.Error as e:
            got = ("error", str(e).splitlines()[0][:120])
        ok = list(got) == [exp["rows"], exp["hash"]]
        bad += not ok
        print(f"{w:14s} {name:32s} {'MATCH' if ok else 'DIFFER'} "
              f"engine={exp['rows']}/{exp['hash']} duckdb={got[0]}/{got[1]}")
    print(f"{len(twins)} twins, {bad} disagree")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
