#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline); later runs reuse the build until a
source file changes. Everything a run writes stays under `.bench_build/`.

A run is one JVM (`local[<cores>]`, one client, closed loop) that sets up a
SparkSession through `graft.SparkEnv.builder`, runs the workload's
operations once cold, then untimed to warm up, then timed until S seconds
have been measured, and writes raw timings. Outputs are checked after the timed region:
pipeline batches against an independent DuckDB recomputation
(check_pipeline.py), catalog queries against their DuckDB oracles
(tools/check.py). The last line of stdout is the result JSON; with
`--trace 0` it carries the end-to-end metrics, with `--trace 1` the
per-layer ones (see README.md). The exit code is non-zero when a check
fails or the run cannot be made.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

WORKLOADS = {
    # a report batch of 50 samples x 2,000 taxa through BigBugData.write
    "batch-small": {"mode": "pipeline", "samples": 50, "taxa": 2000},
    # the harness's catalog queries (perfbench.Harness.queries) over a
    # generated sf0.01-size corpus
    "catalog": {"mode": "catalog"},
}
HEAP = "3g"
JVM_TIMEOUT_S = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the launch file."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a checkout of the program: {need} is missing")
    launch = os.path.join(HARNESS, "target", "launch.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return launch
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness (sbt writeLaunch)")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=850).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(launch):
        fail(f"build failed (see {os.path.join(WORK, 'build.log')})", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return launch


# ---------------------------------------------------------------- inputs

def catalog_corpus():
    """Generate the catalog's sf0.01-size parquet corpus once per checkout
    with the repository's own generator (tools/gen_testdata.py, numpy seed
    7); the fixed region/nation dimensions are written here."""
    out = os.path.join(WORK, "corpus")
    done = os.path.join(out, "_done")
    if os.path.exists(done):
        return out
    import pyarrow as pa
    import pyarrow.parquet as pq
    shutil.rmtree(out, ignore_errors=True)
    dims = out + "_dims"
    os.makedirs(dims, exist_ok=True)
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        os.path.join(dims, "region.parquet"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        os.path.join(dims, "nation.parquet"))
    spec = importlib.util.spec_from_file_location(
        "gen_testdata", os.path.join(ROOT, "tools", "gen_testdata.py"))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    gen.SRC = dims
    with contextlib.redirect_stdout(sys.stderr):
        gen.main(out, 1)
    shutil.rmtree(dims)
    open(done, "w").close()
    return out


# ---------------------------------------------------------------- JVM

def jvm(launch, work, heap, harness_args):
    """Run the harness; return (launch epoch seconds, result dict)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, f"result_{harness_args['mode']}_{time.monotonic_ns()}.json")
    cmd = ["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"@{launch}", "perfbench.Harness", f"out={out}"]
    cmd += [f"{k}={v}" for k, v in harness_args.items()]
    with open(os.path.join(work, "jvm.log"), "a") as logf:
        t = time.time()
        try:
            rc = subprocess.run(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(out):
        fail(f"harness {harness_args['mode']} exited {rc} (see {work}/jvm.log)", 4)
    with open(out) as f:
        return t, json.load(f)


# ---------------------------------------------------------------- checks

def check_pipeline_outputs(res, reports, groups):
    """Failed operations: batches whose CSVs differ from the DuckDB
    recomputation (batch 0 is recomputed; every other batch must be
    byte-identical to it)."""
    import check_pipeline
    first = os.path.join(res["work"], "out", "batch_0000")
    try:
        bad, worst = check_pipeline.check(first, reports, groups)
    except (OSError, ValueError, IndexError) as e:
        bad, worst = [f"batch 0 output unreadable: {e}"], None
    for b in bad:
        log(f"check: {b}")
    ref = res["sha"]["0"]
    wrong = {op["id"] for op in res["ops"] if bad or res["sha"][str(op["id"])] != ref}
    return wrong, {"z_score_max_ulps": worst, "sha256": ref,
                   "output_bytes": sum(os.path.getsize(os.path.join(first, f))
                                       for f in os.listdir(first))}


def check_catalog_outputs(res, corpus):
    """Failed operations: every run of a query whose dumped result differs
    from its DuckDB oracle (tools/check.py)."""
    dump = os.path.join(res["work"], "dump")
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        names = sorted(json.load(f))
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), corpus, dump]
                       + names, capture_output=True, text=True, timeout=170,
                       env=dict(os.environ, DUCKDB_THREADS=str(os.cpu_count() or 1)))
    failed = {m.group(1) for m in re.finditer(r"^FAIL (\S+):", p.stdout, re.M)}
    if p.returncode != 0 and not failed:
        failed = set(names)
    for line in p.stdout.splitlines():
        if line.startswith("FAIL"):
            log(f"check: {line}")
    wrong = {op["id"] for op in res["ops"] if op["name"] in failed}
    return wrong, {"oracle_checked": len(names), "oracle_failed": sorted(failed),
                   "no_oracle": sorted(set(res["queries"]) - set(names))}


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, t_launch):
    # each operation's median over its warm repeats (the batch is one
    # operation). Not the best repeat: several queries run in a fast mode
    # now and then (q78_winsorize 0.8 s or 1.5 s), and the best of three
    # repeats reports whether a run happened to catch it
    reps = {}
    for o in res["ops"]:
        if o["phase"] == "warm" and o["ok"]:
            reps.setdefault(o["name"], []).append(o["s"])
    typical = [median(v) for v in reps.values()]
    return {
        # launch to the end of the cold pass: what a one-shot user waits
        # for before the first result, and the warm-up before the timed
        # operations
        "setup_s": (res["cold_end_epoch_s"] - t_launch, "s"),
        "op_s.p50": (median(typical), "s"),
        "ops_per_s": (len(typical) / sum(typical) if typical else 0.0, "1/s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MiB"),
    }


# per-layer metric → (summary field, unit); averaged per traced warm operation
PER_OP = {
    "op.jobs": ("jobs", "count"),
    "op.stages": ("stages", "count"),
    "op.tasks": ("tasks", "count"),
    "op.plan_s": ("plan_s", "s"),
    "op.driver_self_s": ("driver_self_s", "s"),
    "io.scan_s": ("scan_s", "s"),
    "io.input_rows": ("input_rows", "count"),
    "io.sink_s": ("sink_s", "s"),
    "ops.aggregate_s": ("aggregate_s", "s"),
    "ops.window_s": ("window_s", "s"),
    "ops.join_s": ("join_s", "s"),
    "ops.sort_s": ("sort_s", "s"),
    "ops.exchange_s": ("exchange_s", "s"),
    "ops.shuffle_bytes": ("shuffle_bytes", "bytes"),
    "plans.catalyst_s": ("catalyst_s", "s"),
    "spark.executor_run_s": ("executor_run_s", "s"),
    "spark.executor_cpu_s": ("executor_cpu_s", "s"),
    "spark.gc_s": ("gc_s", "s"),
    "spark.scheduler_delay_s": ("scheduler_delay_s", "s"),
    "spark.core_busy_frac": ("core_busy_frac", "ratio"),
    "spark.task_skew": ("task_skew", "ratio"),
}
# recorded with the traced run but not metrics: zero on at least one workload
DETAIL = {"io.sink_concat_s": "sink_concat_s", "ops.spill_bytes": "spill_bytes",
          "spark.task_retry_frac": "task_retry_frac", "spark.cache_mb": "cache_mb",
          "plans.graft_rules_s": "graft_rules_s"}


def per_layer(res):
    """Per-layer metrics: means per traced warm operation."""
    traced = [t for t in res["traces"] if t["phase"] == "warm"]
    warm = [o for o in res["ops"] if o["phase"] == "warm" and o["ok"]]

    def mean(xs):
        xs = list(xs)
        return statistics.fmean(xs) if xs else 0.0

    m = {"sparkenv.session_s": (res["session_s"], "s")}
    m.update({name: (mean(float(t[f]) for t in traced), unit)
              for name, (f, unit) in PER_OP.items()})
    runs = sum(t["rule_runs"] for t in traced)
    m["plans.effective_rule_frac"] = (
        sum(t["rule_effective_runs"] for t in traced) / runs if runs else 0.0, "ratio")
    # tracing overhead: traced minus untraced time of the same operation,
    # averaged over the operations that ran both ways
    by_name = {}
    for o in warm:
        by_name.setdefault(o["name"], {True: [], False: []})[o["traced"]].append(o["s"])
    diffs = [mean(v[True]) - mean(v[False]) for v in by_name.values() if v[True] and v[False]]
    m["trace.overhead_s"] = (mean(diffs), "s")

    detail = {k: mean(float(t[f]) for t in traced) for k, f in DETAIL.items()}
    # job time and count by the call site's graft layer; the operators'
    # entries are the per-operator metrics
    for key, field in (("_s", "layers_s"), ("_jobs", "layers_jobs")):
        by_site = {layer: mean(t[field].get(layer, 0) for t in traced)
                   for layer in sorted({k for t in traced for k in t[field]})}
        detail[f"callsite{key}"] = by_site
        detail.update({f"{k}{key}": v for k, v in by_site.items()
                       if k.startswith("operators.")})
    # time per pass by catalog module (or per batch for the pipeline)
    passes = len(warm) / max(1, len(by_name))
    for group in sorted({o["group"] for o in warm}):
        key = "pipeline.batch_s" if group == "pipeline" else f"catalog.{group}_s"
        detail[key] = sum(o["s"] for o in warm if o["group"] == group) / passes
    detail["traced_ops"] = len(traced)
    return m, detail


# ---------------------------------------------------------------- main

def main():
    # a terminated run stops its JVM: subprocess.run kills the child on
    # any exception, SystemExit included
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = WORKLOADS[a.workload]
    launch = build()
    cores = os.cpu_count() or 1
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = {"mode": spec["mode"], "work": work, "seconds": a.seconds,
            "trace": a.trace, "cores": cores, "seed": a.seed}
    if spec["mode"] == "pipeline":
        import gen_reports
        reports, groups = gen_reports.generate(os.path.join(work, "reports"),
                                               spec["samples"], spec["taxa"], a.seed)
        with open(os.path.join(work, "reports.txt"), "w") as f:
            f.write("\n".join(reports) + "\n")
        args.update(reports=os.path.join(work, "reports.txt"),
                    groups=",".join(f"{nc}:{g}" for nc, g in groups))
    else:
        corpus = catalog_corpus()
        args.update(sf=corpus)

    t_launch, res = jvm(launch, work, HEAP, args)
    res.update(work=work, mode=spec["mode"])

    if spec["mode"] == "pipeline":
        wrong, check = check_pipeline_outputs(res, reports, groups)
    else:
        wrong, check = check_catalog_outputs(res, corpus)
    failed = {o["id"] for o in res["ops"] if not o["ok"]} | wrong
    envrec = {k: res[k] for k in ("cpus", "cores", "heap_max_mb", "load_before", "load_after",
                                  "sentinel_before_s", "sentinel_after_s")}
    envrec["peak_rss_mb"] = res["peak_rss_kb"] / 1024.0
    envrec["session_s"] = res["ready_epoch_s"] - t_launch
    envrec["cold_pass_s"] = res["cold_pass_s"]
    n_warm = sum(1 for o in res["ops"] if o["phase"] == "warm")
    print(json.dumps({"env": envrec, "check": check, "warm_ops": n_warm}))
    if a.trace:
        metrics, detail = per_layer(res)
        print(json.dumps({"detail": detail}))
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(res["spans"], f)
    else:
        metrics = end_to_end(res, t_launch)
    correct = not failed
    print(json.dumps({
        "correct": correct, "attempted": len(res["ops"]), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
