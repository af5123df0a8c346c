#!/usr/bin/env python3
"""Steadiness evidence for the benchmark: runs every workload once per
seed, in one or more separate sets, and records for each end-to-end metric
the median, the quartiles and the spread (interquartile range over median)
of each set, next to the metric's bound in BENCHMARK.json. With
--trace-seeds it also makes traced runs and records the tracing overhead
(traced op median over untraced op median, minus one) per workload.

Usage (from the repository root):
    python3 perfbench/steady.py --seeds 10 --sets 2 --trace-seeds 3 \\
        --out perfbench/steadiness.json
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True, timeout=900)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
    return r.returncode, json.loads(last)


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--trace-seeds", type=int, default=0)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    seconds = bench["run_seconds"]
    names = a.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = {"run_seconds": seconds, "nproc": os.cpu_count(), "sets": [], "tracing_overhead": {}}
    for s in range(a.sets):
        seeds = [1 + 100 * s + i for i in range(a.seeds)]
        res = {}
        for w in names:
            rows, failures = [], []
            for seed in seeds:
                t0 = time.time()
                code, line = run(w, seed, seconds, 0)
                rows.append(line)
                if code != 0 or not line.get("correct"):
                    failures.append({"seed": seed, "exit": code})
                print(f"set {s} {w} seed {seed}: exit {code} in {time.time() - t0:.1f} s", file=sys.stderr)
            ok = [r for r in rows if r.get("metrics")]
            res[w] = {"seeds": seeds, "failures": failures,
                      "attempted": sum(r.get("attempted", 0) for r in rows),
                      "failed": sum(r.get("failed", 0) for r in rows),
                      "metrics": {m: dict(summary([r["metrics"][m]["value"] for r in ok]),
                                          bound=bounds[m], within_third_of_bound=None)
                                  for m in bounds if len(ok) >= 2}}
            for m, v in res[w]["metrics"].items():
                v["within_third_of_bound"] = v["spread"] < bounds[m] / 3
        out["sets"].append(res)
    if len(out["sets"]) >= 2:
        out["median_shift"] = {w: {m: out["sets"][1][w]["metrics"][m]["median"] /
                                   out["sets"][0][w]["metrics"][m]["median"] - 1
                                   for m in bounds} for w in names}
    for w in names:
        if a.trace_seeds <= 0:
            break
        traced = []
        for seed in range(1, a.trace_seeds + 1):
            code, line = run(w, seed, seconds, 1)
            if line.get("metrics"):
                traced.append(line["metrics"]["trace.op_p50_s"]["value"])
        base = out["sets"][0][w]["metrics"]["op_p50_s"]["median"] if out["sets"] else None
        if traced and base:
            out["tracing_overhead"][w] = {"traced_op_p50_s": statistics.median(traced),
                                          "untraced_op_p50_s": base,
                                          "overhead": statistics.median(traced) / base - 1}
    with open(a.out, "w") as fh:
        json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
