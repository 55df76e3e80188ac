#!/usr/bin/env python3
"""One benchmark run of the retail pipeline, from the root of a checkout.

    python3 perfbench/run.py --workload drop_ingest --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark if their sources changed (perfbench/build.sh),
generates the run's inputs from the seed, runs one workload in-process on the
program's GraftSession for at least `--seconds` (whole cycles), checks the
outputs, and prints two JSON lines: an `info` record (run context and the
workload's own named metrics), then the result line
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the metrics
are the end-to-end metrics of BENCHMARK.json; with `--trace 1` the per-layer
ones, and the full trace is written to .bench_out/.

Everything the run writes lives in .bench_tmp/<run>/, removed at exit.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import tables  # noqa: E402

WORKLOADS = ("drop_ingest", "analyst_queries", "lake_churn")
# Star-schema scale of the generated tables (lineitem ~ 120k rows).
SF = 0.02
TINY_SF = 0.001
RUN_DEADLINE_S = 170
# A fixed heap (-Xms = -Xmx) that every workload fills, so the peak resident
# set moves with the program's native and heap footprint, not with when the
# collector chose to grow the heap.
JVM_HEAP = "2g"
# Per-layer figures only some workloads of BENCHMARK.json produce; the others
# report 0. lake_churn's own figures (lake.jobs_per_commit, ...) are emitted
# only by lake_churn runs.
LAYER_EXTRAS = (
    "ingest.jobs_per_file", "gold.jobs_per_partition", "gold.rewrite_amp", "plans.plan_s")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def percentile(xs, p):
    """Linear-interpolated percentile (the numpy default)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def layer_unit(name):
    leaf = name.split(".", 1)[1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf == "log_bytes":
        return "bytes"
    if leaf in ("calls", "jobs", "stages", "tasks", "failed", "live_files"):
        return "count"
    return "ratio"


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def build():
    p = subprocess.run(["bash", os.path.join(HERE, "build.sh")], cwd=ROOT,
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit("perfbench: build failed")


def run_jvm(args, tmp, data, deadline):
    build_dir = os.path.join(ROOT, ".bench_build", "perfbench")
    spark_home = os.environ.get("SPARK_HOME")
    cp = ":".join([os.path.join(build_dir, "bench"), os.path.join(build_dir, "program"),
                   os.path.join(spark_home, "jars", "*")])
    out = os.path.join(tmp, "result.json")
    opts = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opts, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.perfbench.PerfBench",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cpus", str(len(os.sched_getaffinity(0))), "--tmp", tmp,
           "--src", os.path.join(ROOT, "src", "main", "scala", "graft"),
           "--out", out, "--tiny", "1" if args.tiny else "0"]
    if data:
        cmd += ["--data", data]
    if args.trace:
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        cmd += ["--trace-out", os.path.join(
            ROOT, ".bench_out", f"trace_{args.workload}_seed{args.seed}.json")]
    log_path = os.path.join(tmp, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=tmp, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"perfbench: benchmark JVM ended with {code}")
    with open(out) as f:
        return json.load(f)


def summarize(args, r, datagen_s, errors, load_start, ticks_start):
    steal, total = cpu_ticks()
    ops = r["ops"]
    ok = [o for o in ops if o["ok"]]
    fg = [o for o in ok if o["foreground"]]
    fg_s = [o["s"] for o in fg]
    failed = sum(1 for o in ops if not o["ok"])
    by = lambda pred: [o["s"] for o in ok if pred(o["kind"])]
    end_to_end = {
        "setup_s": (datagen_s + statistics.median(r["setup_reps_s"]) + r["warmup_s"], "s"),
        "cpu_s_per_op": (sum(o["cpu_s"] for o in fg) / max(1, len(fg)), "s"),
        "driver_peak_rss_mb": (r["peak_rss_mb"], "MB"),
    }
    named = {
        "op_p50_s": (percentile(fg_s, 50), "s"),
        "op_p90_s": (percentile(fg_s, 90), "s"),
        "op_mean_s": (sum(fg_s) / max(1, len(fg_s)), "s"),
        "ops_per_s": (len(fg) / r["loop_s"], "1/s"),
        "failed_op_ratio": (failed / max(1, len(ops)), "ratio"),
        "jit_cpu_share": (r["loop_jit_s"] / max(1e-9, r["loop_cpu_s"]), "ratio"),
    }
    if args.workload == "drop_ingest":
        named["file_to_gold_p50_s"] = (percentile(by(lambda k: k == "file"), 50), "s")
        named["ingest_rows_per_s"] = (
            sum(o["rows"] for o in ok) / max(1e-9, sum(o["s"] for o in ok)), "1/s")
    elif args.workload == "analyst_queries":
        named["query_p50_s"] = (percentile(fg_s, 50), "s")
        named["query_p90_s"] = (percentile(fg_s, 90), "s")
    else:
        named["commit_p50_s"] = (percentile(by(lambda k: k.startswith("commit_")), 50), "s")
        named["read_p50_s"] = (percentile(by(lambda k: k.startswith("read_")), 50), "s")
        named["lake_ops_per_s"] = (len(fg) / r["loop_s"], "1/s")
        named["space_amp"] = (r["metrics"]["space_amp"], "ratio")
    kinds = sorted({o["kind"] for o in ops})
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "load_avg_1m_start": load_start, "load_avg_1m_end": os.getloadavg()[0],
        "cpu_steal_share": (steal - ticks_start[0]) / max(1, total - ticks_start[1]),
        "spark_version": r["spark_version"], "java_version": r["java_version"],
        "cycles": r["cycles"], "loop_s": r["loop_s"], "foreground_ops": len(fg),
        "loop_cpu_s": r["loop_cpu_s"], "loop_jit_s": r["loop_jit_s"], "loop_gc_s": r["loop_gc_s"],
        "datagen_s": datagen_s, "setup_reps_s": r["setup_reps_s"], "warmup_s": r["warmup_s"],
        "check_s": r["check_s"],
        "named_metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in {**end_to_end, **named}.items()},
        "op_seconds": {k: [round(o["s"], 4) for o in ops if o["kind"] == k] for k in kinds},
        "op_cpu_seconds": {k: [round(o["cpu_s"], 4) for o in ops if o["kind"] == k]
                           for k in kinds},
        "errors": errors[:20],
    }
    if args.trace:
        layer = {k: 0.0 for k in LAYER_EXTRAS}
        layer.update(r["per_layer"])
        layer["trace.op_p50_s"] = named["op_p50_s"][0]
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layer.items())}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    result = {"correct": not errors and failed == 0, "attempted": len(ops),
              "failed": failed, "metrics": metrics}
    return info, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test size: sf0.001 tables and a handful of small files")
    args = ap.parse_args()

    load_start = os.getloadavg()[0]
    ticks_start = cpu_ticks()
    build()
    deadline = time.time() + RUN_DEADLINE_S
    tmp = os.path.join(ROOT, ".bench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        data, datagen_s = None, 0.0
        if args.workload != "drop_ingest":
            t0 = time.perf_counter()
            data = os.path.join(tmp, "data")
            tables.generate(data, TINY_SF if args.tiny else SF, args.seed)
            datagen_s = time.perf_counter() - t0
        r = run_jvm(args, tmp, data, deadline)
        errors = list(r["errors"])
        if args.workload == "analyst_queries":
            errors += tables.check_results(data, os.path.join(tmp, "results"))
        info, result = summarize(args, r, datagen_s, errors, load_start, ticks_start)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"info": info}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
