#!/usr/bin/env python3
"""Tiny-size self-test of the benchmark, in one command:

    python3 perfbench/selftest.py

Runs every workload of run.py (those of BENCHMARK.json and lake_churn) at
self-test size (sf0.001 tables, a handful of small files, one cycle) untraced
once and traced twice with the same seed. Checks that each run is correct
with no failed operation, that the result line has exactly the contract's
keys, that a workload of BENCHMARK.json emits every declared end-to-end
(untraced) and per-layer (traced) metric with its declared unit and nothing
else, and that the traced job and stage counts repeat exactly. Prints the
workloads' named metrics and the tracing overhead. Exits non-zero on any
failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}")
    return json.loads(lines[-2])["info"], json.loads(lines[-1])


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    problems = []
    benchmarked = {x["name"] for x in bench["workloads"]}
    for w in WORKLOADS:
        runs = [run(w, 0), run(w, 1), run(w, 1)]
        for (info, res), declared in zip(runs, ("end_to_end", "per_layer", "per_layer")):
            tag = f"{w} trace={info['trace']}"
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']} "
                                f"errors={info['errors']}")
            if w not in benchmarked:
                continue
            for m in bench[declared]:
                got = res["metrics"].get(m["name"])
                if got is None:
                    problems.append(f"{tag}: metric {m['name']} missing")
                elif got["unit"] != m["unit"]:
                    problems.append(f"{tag}: {m['name']} unit {got['unit']} != {m['unit']}")
            extra = set(res["metrics"]) - {m["name"] for m in bench[declared]}
            if extra:
                problems.append(f"{tag}: undeclared metrics {sorted(extra)}")
        (info0, res0), (_, t1), (_, t2) = runs
        counts = lambda r: {k: v["value"] for k, v in r["metrics"].items()
                            if k.endswith((".jobs", ".stages", ".calls"))}
        if counts(t1) != counts(t2):
            diff = {k: (counts(t1)[k], counts(t2).get(k)) for k in counts(t1)
                    if counts(t1)[k] != counts(t2).get(k)}
            problems.append(f"{w}: traced counts differ between same-seed runs: {diff}")
        untraced = info0["named_metrics"]["op_p50_s"]["value"]
        traced = t1["metrics"]["trace.op_p50_s"]["value"]
        print(f"{w}: " + ", ".join(f"{k}={v['value']:.4g} {v['unit']}"
                                   for k, v in info0["named_metrics"].items()))
        print(f"{w}: tracing overhead on op_p50_s {traced / untraced - 1:+.1%} "
              f"(untraced {untraced:.3f} s, traced {traced:.3f} s)")
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAIL" if problems else "PASS")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
