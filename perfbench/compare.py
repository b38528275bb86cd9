#!/usr/bin/env python3
"""Compare two sets of bench results, refusing numbers whose stamps differ.

    python3 perfbench/compare.py A_DIR B_DIR

Each directory holds result files (`*.json` but not `*.raw.json`) that
run.py writes under .perfbench/results/. For every workload and metric it
prints each side's median of the per-run medians, the quartiles of those
values and their count, and the B/A ratio of the medians. Every file on
both sides must carry the same comparable stamp (stats.COMPARABLE: bench
version, workload, seconds, trace, nproc, input parameters, JVM options);
a missing or differing stamp stops the comparison with exit code 2.
"""
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def load(d):
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        if f.endswith(".raw.json"):
            continue
        with open(f) as fh:
            r = json.load(fh)
        out.setdefault(r.get("stamp", {}).get("workload"), []).append(r)
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    try:
        for workload in sorted(set(a) | set(b), key=str):
            runs = a.get(workload, []) + b.get(workload, [])
            if not a.get(workload) or not b.get(workload):
                raise stats.StampError(f"workload {workload!r} is on one side only")
            for r in runs:
                stats.check_comparable(runs[0]["stamp"], r.get("stamp", {}))
    except stats.StampError as e:
        print(f"compare: refused: {e}", file=sys.stderr)
        sys.exit(2)
    for workload in sorted(a):
        for name in a[workload][0]["metrics"]:
            sa = stats.summary([r["metrics"][name]["median"] for r in a[workload]])
            sb = stats.summary([r["metrics"][name]["median"] for r in b[workload]])
            ratio = sb["median"] / sa["median"] if sa["median"] else float("nan")
            print(f"{workload:10s} {name:28s} A {sa['median']:.6g} [{sa['q1']:.6g}, "
                  f"{sa['q3']:.6g}] n={sa['n']}   B {sb['median']:.6g} [{sb['q1']:.6g}, "
                  f"{sb['q3']:.6g}] n={sb['n']}   B/A {ratio:.4f}")


if __name__ == "__main__":
    main()
