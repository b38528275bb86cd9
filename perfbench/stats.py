"""Bench arithmetic: medians and quartiles, span self time, run stamps.

Pure functions with no dependencies beyond the standard library, so the
unit tests in perfbench/tests run with plain `python3 -m unittest`.
"""
import statistics

# Stamp keys that must be present and equal before two sets of numbers
# are compared. The revision and seed are recorded but may differ: they
# are what an A/B comparison varies.
COMPARABLE = ("bench", "workload", "seconds", "trace", "nproc", "input",
              "jvm_options")


def summary(values):
    """Median, first and third quartile, and n of a non-empty sample.

    Quartiles are Python's `statistics.quantiles(values, n=4)`; a single
    value is its own quartiles."""
    xs = [float(v) for v in values]
    if not xs:
        raise ValueError("summary of an empty sample")
    if len(xs) == 1:
        return {"median": xs[0], "q1": xs[0], "q3": xs[0], "n": 1}
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return {"median": statistics.median(xs), "q1": q1, "q3": q3, "n": len(xs)}


def self_times(spans):
    """Self time of each span in seconds: its duration minus the part of
    its interval covered by its direct children (overlaps counted once).

    `spans` are dicts with id, parent, name, start_ns and end_ns; returns
    a list of (name, self_seconds) in span order."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, reach = 0, lo
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], reach), min(c["end_ns"], hi)
            if b > a:
                covered += b - a
                reach = b
        out.append((s["name"], (hi - lo - covered) / 1e9))
    return out


def self_time_by_name(spans):
    """Self times grouped by span name, in span order."""
    out = {}
    for name, t in self_times(spans):
        out.setdefault(name, []).append(t)
    return out


class StampError(ValueError):
    pass


def check_comparable(a, b):
    """Raises StampError unless stamps `a` and `b` both carry every
    comparable key with equal values."""
    for side, stamp in (("first", a), ("second", b)):
        missing = [k for k in COMPARABLE if stamp.get(k) in (None, "", [])]
        if missing:
            raise StampError(f"{side} stamp lacks {', '.join(missing)}")
    differ = [k for k in COMPARABLE if a[k] != b[k]]
    if differ:
        raise StampError("stamps differ in " + ", ".join(
            f"{k} ({a[k]!r} vs {b[k]!r})" for k in differ))
