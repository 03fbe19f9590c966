#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, judged against the bounds
in BENCHMARK.json.

    python3 perfbench/spread.py --workload batch_pipeline --seeds 1-10 [--log runs.jsonl]
    python3 perfbench/spread.py --workload batch_pipeline --from-log set2.jsonl \
        --against set1.jsonl

Runs the benchmark once per seed (untraced, run_seconds from
BENCHMARK.json), or reads the results of such runs from a `--log` file,
and prints per metric the median and the quartile spread
(q3 - q1) / median as statistics.quantiles(n=4) gives it. A spread above a
third of the metric's bound is flagged, setup_s included. With `--against`
(the log of a first set of runs) it also prints how far each median moved
from the first set's, in the metric's worse direction, and flags a move
beyond the bound.
"""

import argparse
import json
import os
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_seeds(workload, seed_list, run_seconds, log):
    results = []
    for s in seed_list:
        t0 = time.time()
        out = subprocess.run(
            ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(s),
             "--seconds", str(run_seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {s}: exit {out.returncode}\n{out.stderr[-2000:]}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        results.append(res)
        print(f"seed {s}: {time.time() - t0:.0f} s, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)
        if log:
            with open(log, "a") as f:
                f.write(json.dumps({"workload": workload, "seed": s, "result": res}) + "\n")
    return results


def read_log(path, workload):
    with open(path) as f:
        rows = [json.loads(x) for x in f if x.strip()]
    return [r["result"] for r in rows if r["workload"] == workload]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--log", help="append each result line (JSON) to this file")
    ap.add_argument("--from-log", help="judge the results in this log instead of running")
    ap.add_argument("--against", help="log of a first set of runs to compare medians with")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.from_log:
        results = read_log(a.from_log, a.workload)
    else:
        results = run_seeds(a.workload, seeds(a.seeds), bench["run_seconds"], a.log)
    first = read_log(a.against, a.workload) if a.against else None
    ok = True
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med = stats.median(vals)
        spread = stats.quartile_spread(vals) if len(vals) >= 2 and med else 0.0
        flag = "" if spread <= m["bound"] / 3 else "  <-- spread above bound/3"
        line = (f"{m['name']:18s} median {med:12.4f} {m['unit']:6s} spread {spread:6.3f} "
                f"bound {m['bound']:.2f}")
        if first:
            med1 = stats.median(r["metrics"][m["name"]]["value"] for r in first)
            worse = (med - med1) / med1 if m["better"] == "lower" else (med1 - med) / med1
            line += f" vs first {med1:12.4f} worse by {worse:+.3f}"
            if worse > m["bound"]:
                flag += "  <-- median moved beyond bound"
        ok &= flag == ""
        print(line + flag)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
