#!/usr/bin/env python3
"""Ten untraced runs per workload; record each end-to-end metric's spread.

    python3 perfbench/steadiness.py [--workloads a,b]

For every workload in BENCHMARK.json (or those named) this runs run.py
with seeds 1..10, then records in perfbench/steadiness.json, per
end-to-end metric, the median, the first and third quartiles
(statistics.quantiles(values, n=4)) and the spread (Q3 - Q1) / median,
next to the metric's bound. A spread within a third of the bound is the
target; within the bound is the acceptance limit (setup_s is exempt
from the spread limit). It also records each workload's median run time
and, from those, an estimate of the time a full set of benchmark runs
takes: 22 runs per workload plus 4 more of the slowest.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = 10
OUT = os.path.join(HERE, "steadiness.json")


def main():
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args()
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    result = {"run_seconds": seconds, "seeds": list(range(1, RUNS + 1)), "runs": {}}
    if os.path.exists(OUT):
        result["runs"] = json.load(open(OUT)).get("runs", {})
    for w in args.workloads.split(","):
        values = {m: [] for m in bounds}
        walls = []
        for seed in range(1, RUNS + 1):
            t0 = time.time()
            out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                  "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                                 stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            walls.append(time.time() - t0)
            last = json.loads(out.stdout.strip().splitlines()[-1])
            if out.returncode != 0 or not last["correct"] or last["failed"]:
                raise SystemExit(f"{w} seed {seed}: run failed\n{out.stdout[-3000:]}")
            for m in bounds:
                values[m].append(last["metrics"][m]["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f} s", file=sys.stderr, flush=True)
        stats = {"wall_s_median": round(statistics.median(walls), 1)}
        for m, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            stats[m] = {"median": med, "q1": q1, "q3": q3, "spread": round(spread, 4),
                        "bound": bounds[m], "within_third": spread <= bounds[m] / 3,
                        "values": vs}
            print(f"{w} {m}: median {med:.4g} spread {spread:.3f} bound {bounds[m]}", flush=True)
        result["runs"][w] = stats
        walls = [result["runs"][n]["wall_s_median"] for n in result["runs"]]
        result["benchmark_runs_s_estimate"] = round(22 * sum(walls) + 4 * max(walls))
        with open(OUT, "w") as fh:
            json.dump(result, fh, indent=1, sort_keys=True)
            fh.write("\n")


if __name__ == "__main__":
    main()
