#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as the acceptance rule
measures it: for each workload and metric, the distance between the first
and third quartile of the runs (statistics.quantiles, n=4) as a share of
their median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --runs 10 [--workloads a,b] [--seed0 100]

Each run uses another seed. Raw results are appended as JSON lines to
.bench_build/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()
    log = os.path.join(ROOT, ".bench_build", "spread.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    worst = 0.0
    for w in a.workloads.split(","):
        values = {m: [] for m in bounds}
        walls = []
        for i in range(a.runs):
            seed = a.seed0 + i
            t0 = time.monotonic()
            out = subprocess.run(spec["command"] + ["--workload", w, "--seed", str(seed),
                                                    "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                                 cwd=ROOT, capture_output=True, text=True)
            walls.append(time.monotonic() - t0)
            if out.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{out.stderr[-3000:]}")
            lines = out.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            with open(log, "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": seed, "wall_s": walls[-1], "result": res,
                                     "env": json.loads(lines[-2])}) + "\n")
            if not res["correct"]:
                print(f"{w} seed {seed}: correct=false, failed {res['failed']}/{res['attempted']}")
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
        print(f"{w}: {a.runs} runs, wall per run median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for m, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            share = (q3 - q1) / med if med else float("inf")
            if m != "setup_s":
                worst = max(worst, share / bounds[m])
            print(f"  {m:12s} median {med:12.4f}  iqr/median {share:.4f}  bound {bounds[m]}"
                  f"  ({share / bounds[m]:.2f} of bound)")
    print(f"largest spread as a share of its bound (setup_s excluded): {worst:.2f}")


if __name__ == "__main__":
    main()
