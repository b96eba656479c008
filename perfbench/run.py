#!/usr/bin/env python3
"""Layer-attributed benchmark of graft.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and the
harness from source (perfbench/harness/build.py) and generates the input
tables (perfbench/gen_data.py); later runs reuse both from perfbench/work/
until a source file changes. Each run then starts one JVM at
local[<cpus>] that drives graft through `SparkEntry.queries` plus a `noop`
write (the path `graft.Bench` times), one key at a time in a closed loop:

  1. set-up: session start, one cold pass over the workload's keys,
     which writes each key's output to parquet, and the workload's
     warm-up passes;
  2. the measured window: the passes --seconds holds at the workload's
     nominal pass time less the warm-up passes, each in a seed-permuted
     order (traced runs
     alternate untraced and traced passes);
  3. outside every timed region: each captured output is compared here
     with the key's DuckDB oracle SQL.

Every metric is printed as `name value unit`, followed by the raw-sample
file path; the last line of stdout and of stderr is the compact result
JSON. The run leaves its raw samples (every pass and every key time, the
seed and the key orders) in perfbench/work/results/.

With --pool the run covers the workload's whole key pool instead of its
measured keys; select_keys.py picks the measured keys from a traced pool
run.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "harness"))
import build as harness_build  # noqa: E402  (perfbench/harness/build.py)

WORK = os.path.join(HERE, "work")
# A run must end within RUN_LIMIT_S, or FIRST_RUN_LIMIT_S when it also
# compiles; the JVM gets what is left after CHECK_RESERVE_S for the
# oracle check. A --pool run covers the whole key list of the workload's
# rule and gets POOL_LIMIT_S.
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 870
POOL_LIMIT_S = 1500
CHECK_RESERVE_S = 15
KEY_TIMEOUT_S = 30
HEAP = "3g"
# Module opens Spark needs on JDK 17 outside spark-submit (graft's build.sbt
# passes the same list to forked runs).
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log_tail(path, lines=20):
    with open(path, errors="replace") as fh:
        return ":\n" + "".join(fh.readlines()[-lines:])


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def build(root):
    """Compiles graft and the harness (harness/build.py); returns the
    runtime classpath and whether this call compiled."""
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp_file = os.path.join(out, "stamp")
    before = open(stamp_file).read() if os.path.exists(stamp_file) else None
    try:
        classpath = harness_build.build(root, out)
    except harness_build.BuildError as e:
        fail(str(e))
    return classpath, open(stamp_file).read() != before


def ensure_data(scale):
    """Generated tables for `scale`, made once per checkout."""
    import gen_data
    with open(gen_data.__file__, "rb") as fh:
        stamp = hashlib.sha256(fh.read()).hexdigest()
    d = os.path.join(WORK, "data", f"sf{scale}")
    stamp_file = os.path.join(d, ".stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.generate(d, scale)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return d


# ---------------------------------------------------------------- run

def run_harness(classpath, wl, keys, data, args, deadline):
    """One JVM run; returns (result dict, run directory)."""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "check", "warehouse", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    out = os.path.join(run_dir, "result.json")
    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    try:
        java = harness_build.java()
    except harness_build.BuildError as e:
        fail(str(e))
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", p)] + [
        f"-Xmx{HEAP}",
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dderby.system.home={run_dir}",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        # SparkConf reads spark.* system properties: keep every Spark
        # write inside the run directory.
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        f"-Dspark.local.dir={run_dir}/local",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Harness",
        f"data={data}", f"keys={','.join(keys)}", f"seed={args.seed}",
        f"warmup={wl.warmup_passes}",
        f"passes={workloads.measured_passes(wl, args.seconds, args.trace)}", f"trace={args.trace}",
        f"cpus={cpus}", f"timeout={KEY_TIMEOUT_S}",
        f"check={run_dir}/check", f"out={out}"]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=log, stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the JVM run exceeded its time limit; see {run_dir}/jvm.log{log_tail(log.name)}")
    if proc.returncode != 0 or not os.path.exists(out):
        fail(f"the JVM run failed (exit {proc.returncode}); see {run_dir}/jvm.log{log_tail(log.name)}")
    with open(out) as fh:
        return json.load(fh), run_dir


def check_outputs(keys, result, data, check_dir):
    """Compares each key's output with its oracle SQL run by DuckDB, the
    comparison graft's correctness tooling makes: columns sorted by name,
    rows sorted, values compared exactly. Returns {key: reason} for every
    mismatch and the row count of every checked output."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    bad, rows = {}, {}
    for key in keys:
        if key in result["failures"]:
            continue
        files = glob.glob(os.path.join(check_dir, key, "*.parquet"))
        if not files:
            bad[key] = "no output written"
            continue
        got = pq.read_table(files[0]).to_pandas()
        rows[key] = len(got)
        sql = result["oracle_sql"].get(key)
        if sql is None:
            continue
        try:
            want = con.execute(sql).fetch_df()
        except Exception as e:  # the oracle itself failed
            bad[key] = f"oracle error: {e}"
            continue
        got = got.reindex(sorted(got.columns), axis=1)
        want = want.reindex(sorted(want.columns), axis=1)
        if list(got.columns) != list(want.columns):
            bad[key] = f"columns {list(got.columns)} != {list(want.columns)}"
            continue
        if len(got) != len(want):
            bad[key] = f"rows {len(got)} != {len(want)}"
            continue
        gs = got.sort_values(by=list(got.columns)).reset_index(drop=True)
        ws = want.sort_values(by=list(want.columns)).reset_index(drop=True)
        for c in gs.columns:
            a, b = gs[c], ws[c]
            try:
                eq = (a == b) | (a.isna() & b.isna())
            except Exception:
                eq = a.astype(str) == b.astype(str)
            if not eq.all() or str(a.dtype) != str(b.dtype):
                bad[key] = f"column {c} differs ({int((~eq).sum())} rows, types {a.dtype}/{b.dtype})"
                break
    return bad, rows


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Harrell-Davis estimate of the p-th percentile, p in (0, 100): the
    mean of all order statistics weighted by a Beta((n+1)q, (n+1)(1-q))
    density, q = p/100. Per-key times cluster by key (a few keys, each
    timed a few times), and a percentile interpolated between the two
    nearest samples jumps whenever it falls in a gap between two keys'
    clusters; the weighted mean moves smoothly with every sample."""
    xs = sorted(xs)
    n, q = len(xs), p / 100
    a, b = q * (n + 1), (1 - q) * (n + 1)
    steps = 64  # midpoint rule over each order statistic's 1/n interval
    weights = [sum(t ** (a - 1) * (1 - t) ** (b - 1)
                   for t in ((i + (j + 0.5) / steps) / n for j in range(steps)))
               for i in range(n)]
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights) if xs else 0.0


def union_length(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


# The tail percentile, one for both workloads: p75 is the highest that
# pipeline_write's window supports without it resting on two or three
# samples (16 key times, 4 beyond p75; poll_small has 40, 10 beyond).
TAIL_PERCENTILE = 75


def end_to_end(result):
    """pass_s is the median wall time of the measured untraced passes."""
    measured = [p for p in result["passes"] if p["kind"] == "measured" and not p["traced"]]
    idx = {p["index"] for p in measured}
    times = [s["wall_s"] for s in result["samples"] if s["pass"] in idx]
    m = {
        "setup_s": result["setup_s"],
        "pass_s": median([p["wall_s"] for p in measured]),
        "query_p50_s": percentile(times, 50),
        "query_tail_s": percentile(times, TAIL_PERCENTILE),
        "heap_live_mb": result["heap_live_mb"],
    }
    info = {"tail_percentile": TAIL_PERCENTILE, "tail_n": len(times),
            "measured_passes": len(measured), "session_s": result["session_s"],
            "measured_pass_walls_s": [p["wall_s"] for p in measured]}
    return m, info


def self_times(spans):
    """Self time (own duration minus its direct children's) summed per
    layer. The tree per key run is rebuilt from containment: key >
    construct|write > trigger > planning phase|job > stage."""
    rank = {"key": 0, "construct": 1, "write": 1, "trigger": 2,
            "analysis": 3, "optimization": 3, "physical": 3, "job": 3, "stage": 4}
    by_run = {}
    for name, layer, run, a, b in spans:
        by_run.setdefault(run, []).append((rank[name], a, b, layer))
    out = dict.fromkeys(("queries", "write", "plans", "exec", "streaming"), 0.0)
    for items in by_run.values():
        items.sort(key=lambda s: (s[0], s[1]))
        children = {i: [] for i in range(len(items))}
        for j, (r, a, b, _) in enumerate(items):
            parents = [i for i, (r2, a2, b2, _) in enumerate(items)
                       if r2 < r and a2 <= a and b <= b2]
            if parents:
                children[max(parents, key=lambda i: (items[i][0], -(items[i][2] - items[i][1])))].append(j)
        for i, (r, a, b, layer) in enumerate(items):
            covered = union_length([(max(a, items[j][1]), min(b, items[j][2])) for j in children[i]])
            if layer in out:  # a key span is covered exactly by its construct and write
                out[layer] += max(0.0, (b - a) - covered) / 1000
    return out


def traced_runs(result):
    """The key runs ("key#pass") of the measured traced passes -> sample."""
    tidx = {p["index"] for p in result["passes"] if p["kind"] == "measured" and p["traced"]}
    return {f"{s['key']}#{s['pass']}": s for s in result["samples"] if s["pass"] in tidx}


def key_profiles(result, runs):
    """Per traced key run: its wall and construction time, the jobs it
    started (in all and inside construction), its task time and its wall
    time with no task running."""
    construct = {s[2]: (s[3], s[4]) for s in result["spans"] if s[0] == "construct" and s[2] in runs}
    key_span = {s[2]: (s[3], s[4]) for s in result["spans"] if s[0] == "key" and s[2] in runs}
    tasks = {}
    for run, a, b in result["tasks"]:
        tasks.setdefault(run, []).append((a, b))
    prof = {run: {"key": s["key"], "wall_s": s["wall_s"], "construct_s": s["construct_s"],
                  "jobs": 0, "construct_jobs": 0,
                  "busy_s": sum(b - a for a, b in tasks.get(run, [])) / 1000,
                  "driver_only_s": max(0.0, (key_span[run][1] - key_span[run][0]
                                             - union_length(tasks.get(run, []))) / 1000)}
            for run, s in runs.items() if run in key_span}
    for name, _, run, a, _ in result["spans"]:
        if name == "job" and run in prof:
            prof[run]["jobs"] += 1
            prof[run]["construct_jobs"] += construct[run][0] <= a <= construct[run][1]
    return prof


def per_layer(result, rows):
    traced = [p for p in result["passes"] if p["kind"] == "measured" and p["traced"]]
    plain = [p for p in result["passes"] if p["kind"] == "measured" and not p["traced"]]
    n = max(1, len(traced))
    runs = traced_runs(result)
    spans = [s for s in result["spans"] if s[2] in runs]
    c = result["counters"]
    cpus = result["cpus"]

    def span_sum(name):
        return sum(b - a for nm, _, _, a, b in spans if nm == name) / 1000 / n

    prof = key_profiles(result, runs).values()
    wall = sum(p["wall_s"] for p in prof)
    construct_s = sum(p["construct_s"] for p in prof)
    trig = [dict(zip(result["trigger_cols"], t[1:])) for t in result["triggers"] if t[0] in runs]
    trig_ms = [t["trigger_ms"] for t in trig]
    result_rows = sum(rows.values())

    def per_trigger(col, scale=1.0):
        return sum(t[col] for t in trig) / len(trig) / scale if trig else 0.0

    m = {
        "sources.load_ms": statistics.mean(s["ms"] for s in result["sources"]) if result["sources"] else 0.0,
        "sources.load_jobs": statistics.mean(s["jobs"] for s in result["sources"]) if result["sources"] else 0.0,
        "queries.construct_s": construct_s / n,
        "queries.construct_jobs": sum(p["construct_jobs"] for p in prof) / n,
        "queries.construct_share": construct_s / wall if wall else 0.0,
        "plans.analysis_s": span_sum("analysis"),
        "plans.optimization_s": span_sum("optimization"),
        "plans.physical_s": span_sum("physical"),
        "exec.jobs": c.get("jobs", 0) / n,
        "exec.stages": c.get("stages", 0) / n,
        "exec.tasks": c.get("tasks", 0) / n,
        "exec.tasks_per_job": c.get("tasks", 0) / c["jobs"] if c.get("jobs") else 0.0,
        "exec.run_s": c.get("run_ms", 0) / 1000 / n,
        "exec.cpu_s": c.get("cpu_ns", 0) / 1e9 / n,
        "exec.gc_s": c.get("gc_ms", 0) / 1000 / n,
        "exec.slot_util": sum(p["busy_s"] for p in prof) / (wall * cpus) if wall else 0.0,
        "exec.driver_only_s": sum(p["driver_only_s"] for p in prof) / n,
        "exec.shuffle_write_mb": c.get("shuffle_write_bytes", 0) / 2**20 / n,
        "exec.shuffle_read_mb": c.get("shuffle_read_bytes", 0) / 2**20 / n,
        "exec.spill_mb": c.get("spill_bytes", 0) / 2**20 / n,
        "exec.input_mb": c.get("input_bytes", 0) / 2**20 / n,
        "exec.join_rows_per_result_row": c.get("join_output_rows", 0) / n / result_rows if result_rows else 0.0,
        "streaming.triggers": len(trig) / n,
        "streaming.trigger_p50_ms": percentile(trig_ms, 50),
        "streaming.trigger_tail_ms": percentile(trig_ms, 90),
        "streaming.rows_per_s": sum(t["input_rows"] for t in trig) / (sum(trig_ms) / 1000) if sum(trig_ms) else 0.0,
        "streaming.add_batch_ms": per_trigger("add_batch_ms"),
        "streaming.latest_offset_ms": per_trigger("latest_offset_ms"),
        "streaming.query_planning_ms": per_trigger("query_planning_ms"),
        "streaming.wal_commit_ms": per_trigger("wal_commit_ms"),
        "streaming.commit_ms": per_trigger("commit_ms"),
        "streaming.state_rows": per_trigger("state_rows"),
        "streaming.state_mem_mb": per_trigger("state_mem_bytes", 2**20),
        "streaming.state_commit_ms": per_trigger("state_commit_ms"),
    }
    for layer, secs in sorted(self_times(spans).items()):
        m[f"self.{layer}_s"] = secs / n
    plain_idx = {p["index"] for p in plain}
    for key in workloads.PER_KEY:
        m[f"key.{key}_s"] = median([s["wall_s"] for s in result["samples"]
                                    if s["key"] == key and s["pass"] in plain_idx])
    # Each traced pass against the mean of the untraced passes either side
    # of it, so warm-up drift across the window cancels.
    plain_wall = {p["index"]: p["wall_s"] for p in plain}
    ratios = [p["wall_s"] / ((plain_wall[p["index"] - 1] + plain_wall[p["index"] + 1]) / 2) - 1
              for p in traced if p["index"] - 1 in plain_wall and p["index"] + 1 in plain_wall]
    m["trace.overhead_frac"] = median(ratios)
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pool", action="store_true",
                    help="run the workload's full key pool instead of its measured keys; "
                         "a traced pool run is what select_keys.py reads")
    args = ap.parse_args()
    root = os.getcwd()
    wl = workloads.WORKLOADS[args.workload]
    keys = wl.pool_keys() if args.pool else wl.keys
    t0 = time.time()
    classpath, compiled = build(root)
    data = ensure_data(workloads.SCALE)
    t1 = time.time()
    limit = POOL_LIMIT_S if args.pool else FIRST_RUN_LIMIT_S if compiled else RUN_LIMIT_S
    deadline = t0 + limit - CHECK_RESERVE_S
    result, run_dir = run_harness(classpath, wl, keys, data, args, deadline)
    t2 = time.time()
    bad, rows = check_outputs(keys, result, data, os.path.join(run_dir, "check"))
    t3 = time.time()
    failed = dict(result["failures"])
    for k, why in bad.items():
        failed.setdefault(k, why)

    e2e, info = end_to_end(result)
    layers = per_layer(result, rows) if args.trace else {}
    metrics = e2e if not args.trace else layers
    units = workloads.UNITS

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    raw_path = os.path.join(WORK, "results", f"{args.workload}{'-pool' if args.pool else ''}-seed{args.seed}-trace{args.trace}.json")
    with open(raw_path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                   "trace": args.trace, "cpus": result["cpus"], "data": os.path.relpath(data, root),
                   "keys": keys,
                   "failed": failed, "end_to_end": e2e, "per_layer": layers, **info,
                   "passes": result["passes"], "samples": result["samples"],
                   "sources": result["sources"],
                   "key_profiles": list(key_profiles(result, traced_runs(result)).values())},
                  fh, indent=1)

    attempted = len(keys)
    print(f"workload {args.workload}: {attempted} keys on {os.path.relpath(data, root)}, "
          f"seed {args.seed}, {info['measured_passes']} measured untraced passes")
    for name, value in list(e2e.items()) + list(layers.items()):
        print(f"{name} {value:.6g} {units[name]}")
    print(f"failed_frac {len(failed) / attempted:.6g} frac")
    print(f"query_tail_s is p{info['tail_percentile']} of n={info['tail_n']} key times "
          f"({info['tail_n'] * (100 - info['tail_percentile']) // 100} beyond it)")
    print(f"run phases: build+data {t1 - t0:.1f} s, jvm {t2 - t1:.1f} s, oracle check {t3 - t2:.1f} s")
    for k, why in failed.items():
        print(f"FAILED {k}: {why}")
    print(f"raw samples: {os.path.relpath(raw_path, root)}")
    line = json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}})
    sys.stdout.flush()
    print(line, file=sys.stderr, flush=True)
    print(line, flush=True)


if __name__ == "__main__":
    main()
