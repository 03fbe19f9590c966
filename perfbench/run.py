#!/usr/bin/env python3
"""graft benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness (sbt, offline) and generates the input tables; both are cached in
the build directory ($CARGO_TARGET_DIR, default .bench_build). Each run
then launches one JVM (graftbench.Main) that sets up a local[nproc] session
with graft.Bench's confs, runs the discarded warm-up pass and measures the
workload for the requested seconds. This script checks every output
against expected.json, computes the metrics and prints, as the last line
of stdout, {"correct", "attempted", "failed", "metrics"}. A run record
(box, JVM, confs, commit, seed, load) is printed on the line before it.
See README.md for the workloads and metric definitions.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("wx_tool_calls", "batch_pipeline")
HEAP = "3g"
RUN_DEADLINE_S = 170.0
BUILD_DEADLINE_S = 840.0
# IndexCache keeps its persisted indexes here, outside any run directory
INDEX_CACHE_GLOB = "/tmp/graft_idxcache_*"


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("error:", msg)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


# ---- build ---------------------------------------------------------------


def source_stamp():
    md = hashlib.md5()
    pats = ["build.sbt", "project/build.properties", "src/main/**/*.scala",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/main/**/*.scala"]
    for p in pats:
        for f in sorted(glob.glob(os.path.join(ROOT, p), recursive=True)):
            md.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                md.update(fh.read())
    return md.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_built(bdir):
    launch = os.path.join(bdir, "launch.txt")
    stamp_file = os.path.join(bdir, "launch.stamp")
    stamp = source_stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return launch
    log("building engine and harness (sbt, offline) ...")
    os.makedirs(bdir, exist_ok=True)
    t0 = time.time()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dgraftbench.launch={launch}",
           "benchLaunch"]
    proc = subprocess.Popen(cmd, cwd=HERE, env=sbt_env(), stdout=sys.stderr,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    if wait_or_kill(proc, BUILD_DEADLINE_S) != 0 or not os.path.exists(launch):
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return launch


def wait_or_kill(proc, timeout):
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9


# ---- run -----------------------------------------------------------------


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().split()[:3]
    except OSError:
        return None


def steal_ticks():
    """CPU time the hypervisor gave to other guests (/proc/stat "steal"),
    in clock ticks summed over CPUs; None where it is not reported."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) if fields[0] == "cpu" and len(fields) > 8 else None
    except (OSError, ValueError):
        return None


def mem_total_kb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def dir_bytes(path):
    total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(dp, f)).st_size
            except OSError:
                pass
    return total


def launch_jvm(launch, args, run_dir, deadline):
    with open(launch) as f:
        lines = [x for x in f.read().splitlines() if x]
    cp, jopts = lines[0], lines[1:]
    env = dict(os.environ)
    env["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    env["GRAFT_WEATHER_FIXTURES"] = os.path.join(ROOT, "fixtures", "weather")
    # a fixed heap: a growing one collects more often while the run warms
    # up (runs were ~20% slower and noisier); no hsperfdata file, which the
    # JVM would write outside the checkout
    cmd = (["java"] + jopts + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
                               f"-Djava.io.tmpdir={run_dir}/tmp",
                               "-cp", cp, "graftbench.Main"]
           + [f"{k}={v}" for k, v in args.items()])
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=logf,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait_or_kill(proc, max(1.0, deadline - time.time()))
    return rc


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="run every operation once and print its rows and hash")
    a = ap.parse_args()
    t_start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a graft checkout (no build.sbt or src/main/scala/graft)")
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)

    bdir = build_dir()
    launch = ensure_built(bdir)
    data_dir = os.path.join(bdir, "data")
    fingerprint = gen_data.ensure(data_dir)
    t_ready = time.time()
    # a run that had to build and generate inputs first gets a fresh budget
    deadline = (t_ready if t_ready - t_start > 5 else t_start) + RUN_DEADLINE_S

    run_dir = os.path.join(bdir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "scratch", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    idx_before = set(glob.glob(INDEX_CACHE_GLOB))
    load_start = loadavg()
    steal_start = steal_ticks()
    out_file = os.path.join(run_dir, "out.json")
    jvm_args = {
        "mode": "record" if a.record else "run", "workload": a.workload, "seed": a.seed,
        "seconds": a.seconds, "trace": a.trace, "cores": cores,
        "launch_ms": int(time.time() * 1000), "data": data_dir, "run_dir": run_dir,
        "fixtures": os.path.join(ROOT, "fixtures", "weather"), "out": out_file}
    rc = launch_jvm(launch, jvm_args, run_dir, deadline)
    load_end = loadavg()
    steal_end = steal_ticks()
    steal_s = (None if steal_start is None or steal_end is None
               else (steal_end - steal_start) / os.sysconf("SC_CLK_TCK"))
    try:
        with open(out_file) as f:
            out = json.load(f)
    except (OSError, ValueError):
        out = {"fatal": f"no output (exit code {rc})"}
    if rc != 0 or "fatal" in out:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM run failed: {out.get('fatal')} (exit code {rc})", 3)

    leak = {"scratch_mb": dir_bytes(os.path.join(run_dir, "scratch")) / 2**20}
    new_idx = sorted(set(glob.glob(INDEX_CACHE_GLOB)) - idx_before)
    leak["idxcache_dirs"] = len(new_idx)

    if a.record:
        print(json.dumps({"data_fingerprint": fingerprint, "ops": out["ops"]}))
        shutil.rmtree(run_dir, ignore_errors=True)
        return

    checks = check_outputs(out["samples"], expected, a.workload, fingerprint)
    attempted = len(out["samples"])
    failed = sum(1 for c in checks if c is not None)
    if a.trace:
        metrics = per_layer(out, leak, cores)
    else:
        metrics = end_to_end(out, attempted, failed)

    record = {
        "run_record": {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "nproc": cores, "mem_total_kb": mem_total_kb(), "heap_max_mb": out["heap_max_mb"],
            "jvm": out["jvm"], "spark": out["spark"], "confs": out["confs"],
            "commit": git_commit(), "data_fingerprint": fingerprint,
            "loadavg_start": load_start, "loadavg_end": load_end, "steal_s": steal_s,
            "setup_s": out["setup_s"], "setup_parts": out["setup_parts"], "measured_s": out["measured_s"], "gc_s": out["gc_s"],
            "failures": sorted({f"{s['name']}: {c}" for s, c in zip(out["samples"], checks)
                                if c is not None})[:20]}}
    results = os.path.join(bdir, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump({**record, "metrics": metrics, "passes": pass_summary(out),
                   "per_op": per_op_summary(out) if a.trace else None,
                   "trace": out.get("trace") if a.trace else None}, f)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps(record, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


# ---- output check ----------------------------------------------------------


def check_outputs(samples, expected, workload, fingerprint):
    """None for a correct operation, else a one-line reason."""
    exp = expected["workloads"].get(workload, {})
    stale = expected.get("data_fingerprint") != fingerprint and workload != "wx_tool_calls"
    res = []
    for s in samples:
        e = exp.get(s["name"])
        if s["error"]:
            res.append(s["error"][:200])
        elif e is None:
            res.append("no expected output recorded")
        elif stale:
            res.append("inputs differ from the ones expected.json was made from")
        elif "error" in e:
            ok = s["rejected"] is not None and e["error"] in s["rejected"]
            res.append(None if ok else f"expected rejection '{e['error']}', got {s['rejected']}")
        elif s["rejected"] is not None:
            res.append(f"rejected: {s['rejected'][:160]}")
        elif (s["rows"], s["hash"]) != (e["rows"], e["hash"]):
            res.append(f"rows/hash {s['rows']}/{s['hash']} != {e['rows']}/{e['hash']}")
        else:
            res.append(None)
    return res


# ---- metrics ---------------------------------------------------------------

def passes(samples):
    """{pass: [samples]} in pass order; a wx pass is one block of calls."""
    res = {}
    for s in samples:
        res.setdefault(s["pass"], []).append(s)
    return [res[k] for k in sorted(res)]


def cpu_s(s):
    """Process CPU of an operation without the JIT compiler's share: the
    warm-up leaves the JIT compiling, and that work varies from run to run."""
    return max(0.0, s["cpu_s"] - s["jit_s"])


def end_to_end(out, attempted, failed):
    samples = [s for s in out["samples"] if not s["traced"]]
    wall = [s["wall_s"] for s in samples]
    ps = passes(samples)
    if out["workload"] == "wx_tool_calls":
        # a rejected request costs microseconds; the geomean is over served calls
        geo = stats.geomean(s["wall_s"] for s in samples if s["rejected"] is None)
    else:
        per_q = {}
        for s in samples:
            per_q.setdefault(s["name"], []).append(s["wall_s"])
        geo = stats.geomean(stats.median(v) for v in per_q.values())
    return {
        "setup_s": (out["setup_s"], "s"),
        "call_ms.p50": (1000 * stats.hd_quantile(wall, 50), "ms"),
        "call_ms.p95": (1000 * stats.hd_quantile(wall, 95), "ms"),
        "cpu_ms_per_call": (1000 * sum(cpu_s(s) for s in samples) / len(samples), "ms"),
        "pass_s": (stats.median(sum(s["wall_s"] for s in p) for p in ps), "s"),
        "query_s.geomean": (geo, "s"),
        "cpu_s_per_pass": (stats.median(sum(cpu_s(s) for s in p) for p in ps), "s"),
        "live_heap_mb": (out["live_heap_mb"], "MB"),
        "success_frac": (1.0 - failed / attempted, "ratio"),
    }


def pass_summary(out):
    """Per pass: traced or not, wall and CPU seconds, every operation's wall
    seconds in order and each operation's median (for reading a run after
    the fact)."""
    res = []
    for p in passes(out["samples"]):
        ops = {}
        for s in p:
            ops.setdefault(s["name"], []).append(s["wall_s"])
        res.append({"traced": p[0]["traced"], "wall_s": sum(s["wall_s"] for s in p),
                    "walls": [s["wall_s"] for s in p],
                    "cpu_s": sum(cpu_s(s) for s in p),
                    "ops": {k: stats.median(v) for k, v in ops.items()}})
    return res


def per_op_summary(out):
    """Per traced operation: wall, build and the exec counts (the trace
    file carries this for per-query comparisons such as jobs per query)."""
    tr = out["trace"]
    stages = stats.attribute_stages(tr["jobs"], tr["stages"])
    jobs = stats.job_intervals(tr["jobs"])
    res = {}
    for s in out["samples"]:
        if not s["traced"]:
            continue
        js = [j for j in jobs.values() if j.get("op") == s["op"]]
        st = stages.get(s["op"], [])
        res.setdefault(s["name"], []).append({
            "wall_s": s["wall_s"], "build_s": s["build_s"], "jobs": len(js),
            "stages": len(st), "tasks": sum(x["tasks"] for x in st)})
    return res


def per_layer(out, leak, cores):
    samples = [s for s in out["samples"] if s["traced"]]
    untraced = [s for s in out["samples"] if not s["traced"]]
    wx = out["workload"] == "wx_tool_calls"
    tr = out["trace"]
    ops = {s["op"]: s for s in samples}
    # batch layers are reported per pass, wx layers per call
    traced_passes = passes(samples)
    units = len(samples) if wx else len(traced_passes)
    overhead = stats.median(sum(s["wall_s"] for s in p) for p in traced_passes) / \
        stats.median(sum(s["wall_s"] for s in p) for p in passes(untraced)) - 1
    per = lambda x: x / units  # noqa: E731

    jobs = {k: j for k, j in stats.job_intervals(tr["jobs"]).items() if j.get("op") in ops}
    stages = [x for op, st in stats.attribute_stages(tr["jobs"], tr["stages"]).items()
              if op in ops for x in st]
    plans = [p for p in tr["plans"] if p["op"] in ops]
    batches = [b for b in tr["batches"] if b["op"] in ops]
    streams = {}
    for r in tr["streams"]:
        if r["op"] in ops:
            streams.setdefault(r["id"], {}).update(r)

    eager = sum(1 for j in jobs.values()
                if j.get("start_ms", 0) < ops[j["op"]]["build_end_ms"])
    gap_ms = 0.0
    for op, s in ops.items():
        iv = [(j["start_ms"], j.get("end_ms", s["end_ms"])) for j in jobs.values()
              if j["op"] == op and "start_ms" in j]
        gap_ms += (s["end_ms"] - s["start_ms"]) - stats.covered_ms(iv, s["start_ms"], s["end_ms"])
    task_cpu_s = sum(x["cpu_ns"] for x in stages) / 1e9
    wall_s = sum(s["wall_s"] for s in samples)
    mb = 2.0 ** 20

    def dur(key):
        return sum(b["durations"].get(key, 0) for b in batches)

    last_rows = {}
    for b in batches:
        last_rows[b["id"]] = b["state_rows"]
    trigger_ms = {}
    for b in batches:
        trigger_ms[b["id"]] = trigger_ms.get(b["id"], 0) + b["durations"].get("triggerExecution", 0)
    start_stop = sum(max(0.0, r["end_ms"] - r["start_ms"] - trigger_ms.get(i, 0))
                     for i, r in streams.items() if "start_ms" in r and "end_ms" in r)
    engine_calls = [s for s in samples if s["rejected"] is None]
    k = out["kernels_ns_per_row"]
    m = {
        "weather.build_ms": (1000 * sum(s["build_s"] for s in engine_calls)
                             / len(engine_calls) if wx else 0.0, "ms"),
        "openmeteo.fetches": (per(sum(s["fetches"] for s in samples)), "count"),
        "openmeteo.pushdown_fired": (per(sum(p["pushdown_fired"] for p in plans)), "count"),
        "catalyst.analysis_ms": (per(sum(p["analysis_ms"] for p in plans)), "ms"),
        "catalyst.optimization_ms": (per(sum(p["optimization_ms"] for p in plans)), "ms"),
        "catalyst.planning_ms": (per(sum(p["planning_ms"] for p in plans)), "ms"),
        "catalyst.graft_rules_ms": (per(sum(p["graft_rules_ns"] for p in plans)) / 1e6, "ms"),
        "codegen.compiles": (per(sum(s["compiles"] for s in samples)), "count"),
        "codegen.compile_ms": (per(sum(s["compile_ns"] for s in samples)) / 1e6, "ms"),
    }
    for name in ("minhash_signature", "simhash64_text", "shingle_hashes", "sorted_jaccard",
                 "repetition_stats"):
        m[f"functions.{name}.ns_per_row"] = (k.get(name, 0.0), "ns")
    m.update({
        "operators.build_s": (per(sum(s["build_s"] for s in engine_calls)), "s"),
        "operators.eager_jobs": (per(eager), "count"),
        "exec.jobs": (per(len(jobs)), "count"),
        "exec.stages": (per(len(stages)), "count"),
        "exec.tasks": (per(sum(x["tasks"] for x in stages)), "count"),
        "exec.task_cpu_s": (per(task_cpu_s), "s"),
        "exec.cpu_util": (task_cpu_s / (wall_s * cores) if wall_s else 0.0, "ratio"),
        "exec.shuffle_read_mb": (per(sum(x["shuffle_read_bytes"] for x in stages)) / mb, "MB"),
        "exec.shuffle_write_mb": (per(sum(x["shuffle_write_bytes"] for x in stages)) / mb, "MB"),
        "exec.spill_mb": (per(sum(x["spill_bytes"] for x in stages)) / mb, "MB"),
        "exec.one_task_stage_mb": (per(sum(x["input_bytes"] + x["shuffle_read_bytes"]
                                           for x in stages if x["tasks"] == 1)) / mb, "MB"),
        "exec.driver_gap_s": (per(gap_ms) / 1000, "s"),
        "streaming.batches": (per(len(batches)), "count"),
        "streaming.query_planning_ms": (per(dur("queryPlanning")), "ms"),
        "streaming.add_batch_ms": (per(dur("addBatch")), "ms"),
        "streaming.commit_ms": (per(dur("walCommit") + dur("commitOffsets")), "ms"),
        "streaming.state_commit_ms": (per(sum(b["state_commit_ms"] for b in batches)), "ms"),
        "streaming.state_rows": (per(sum(last_rows.values())), "count"),
        "streaming.start_stop_ms": (per(start_stop), "ms"),
        "jvm.gc_s": (per(out["traced_gc_s"]), "s"),
        "leak.storage_mb": (out["storage_mb"], "MB"),
        "leak.scratch_mb": (leak["scratch_mb"], "MB"),
        "leak.idxcache_dirs": (leak["idxcache_dirs"], "count"),
        "trace.overhead_pct": (100 * overhead, "%"),
    })
    return m


if __name__ == "__main__":
    main()
