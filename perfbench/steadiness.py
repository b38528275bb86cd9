#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steadiness.py --workload sft --runs 10 [--first-seed 100]

Runs the benchmark `--runs` times with consecutive seeds and prints, for
each end-to-end metric in BENCHMARK.json, the median of the per-run values
and the distance between their first and third quartiles as a share of
that median (statistics.quantiles, n=4), next to the metric's bound.
Exits 1 if any spread exceeds its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=100)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        last = json.loads(r.stdout.strip().splitlines()[-1]) if r.stdout.strip() else {}
        if r.returncode != 0 or not last.get("correct"):
            sys.exit(f"seed {seed}: exit {r.returncode}\n{r.stdout[-2000:]}\n{r.stderr[-2000:]}")
        for name in values:
            values[name].append(last["metrics"][name]["value"])
        print(f"seed {seed}: " + " ".join(f"{n}={v[-1]:.6g}" for n, v in values.items()),
              flush=True)
    ok = True
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        spread = (q3 - q1) / med
        flag = "" if spread <= m["bound"] else "  OVER BOUND"
        ok = ok and not flag
        print(f"{args.workload} {m['name']:18s} median {med:.6g}  spread {spread:.4f}"
              f"  bound {m['bound']}{flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
