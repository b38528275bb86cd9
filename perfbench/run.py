#!/usr/bin/env python3
"""Benchmark of the transcript cleaning engine.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
bench from source with sbt (offline) and keeps a frozen copy of the built
classes under .perfbench/build, keyed by a hash of the sources. Each run
then starts one JVM with the program's own forked-run JVM options
(build.sbt), which stages the seeded input (untimed, cached under
.perfbench/input), sets up (read-back check of the input, one warm-up
pass), runs timed passes for --seconds, and checks the output. `setup_s` is
the time from JVM start to the end of the warm-up, less the staging: one
value per run, so its spread is taken across runs. This script turns the
JVM's raw record into metrics, makes the DuckDB oracle comparison, prints
one summary line per metric (median, quartiles, n) and, last, one JSON
result line.

--trace 1 alternates untraced and traced passes, runs the layer panel and
prints the per-layer metrics instead; the full trace (spans, self times,
per-pass listener numbers) is written to .perfbench/trace/.

Workloads: flagship, sft (see BENCHMARK.json).

Program entry points the bench calls: graft.run.GraftSession.builder,
graft.gen.TranscriptGen.dataset, graft.run.QualityFilter (apply and
sequentialFull), graft.transcript.SftPipeline.manifest,
graft.operators.Pack.contiguous, graft.SparkEntry (synthTurns, oracleSql,
and the registry queries q96_sft_pack, q06_dedup_exact, q52_dup_groups,
q43_decontaminate, q57_weighted_interleave and q48_pack_sequences), and in
the traced panel CleanText, TurnAnalysis, Scrubber, Pseudonymize.rewrite,
TurnDedup.drops, ConvGate.signals, ConvOps.assemble and SubstrDedup.dedup.
"""
import argparse
import datetime
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import zipfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

BENCH_VERSION = 2
WORKLOADS = ("flagship", "sft")
JVM_TIMEOUT_S = 170
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench")

END_TO_END = (("wall_s", "s"), ("rows_per_s", "1/s"), ("setup_s", "s"),
              ("peak_storage_mb", "MB"))
# per-layer metrics of the traced run, in BENCHMARK.json's order
PER_LAYER = (
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.busy_frac", "ratio"), ("spark.driver_gap_s", "s"),
    ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.max_task_s", "s"), ("spark.task_skew", "ratio"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.broadcasts", "count"),
    ("spark.broadcast_mb", "MB"), ("run.pins", "count"),
    ("flagship.scan_s", "s"), ("functions.clean_text_s", "s"),
    ("functions.turn_analysis_s", "s"), ("scrub.scrub_text_s", "s"),
    ("run.exchange_window_s", "s"),
    ("transcript.pseudonymize_s", "s"), ("transcript.turn_dedup_s", "s"),
    ("transcript.conv_gate_s", "s"), ("transcript.assemble_s", "s"),
    ("operators.pack_s", "s"), ("dedup.exact_s", "s"), ("dedup.near_dup_s", "s"),
    ("text.substr_dedup_s", "s"), ("dedup.decontaminate_s", "s"),
    ("sample.interleave_s", "s"), ("operators.pack_scalable_s", "s"),
    ("skew.wall_s", "s"), ("skew.task_skew", "ratio"), ("skew.max_task_s", "s"),
    ("skew.busy_frac", "ratio"), ("trace_overhead_frac", "ratio"))
# from the trace listener, per traced pass
SPARK_ENGINE = ("spark.jobs", "spark.stages", "spark.tasks", "spark.busy_frac",
                "spark.driver_gap_s", "spark.task_run_s", "spark.task_cpu_s",
                "spark.gc_s", "spark.max_task_s", "spark.task_skew",
                "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb")
# flagship chain self times: (metric, span of the shorter prefix, span)
PREFIXES = (("flagship.scan_s", None, "prefix.scan"),
            ("functions.clean_text_s", "prefix.scan", "prefix.clean_text"),
            ("functions.turn_analysis_s", "prefix.clean_text", "prefix.turn_analysis"),
            ("scrub.scrub_text_s", "prefix.turn_analysis", "prefix.scrub_text"),
            ("run.exchange_window_s", "prefix.scrub_text", "prefix.full"))
# metrics that are the self time of the span of the same name
STAGE_SPANS = ("transcript.pseudonymize_s", "transcript.turn_dedup_s",
               "transcript.conv_gate_s", "transcript.assemble_s", "operators.pack_s",
               "dedup.exact_s", "dedup.near_dup_s", "text.substr_dedup_s",
               "dedup.decontaminate_s", "sample.interleave_s",
               "operators.pack_scalable_s", "skew.wall_s")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# -- build ------------------------------------------------------------------

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def driver_mem():
    """The -Xmx the repository's test command uses: SPARK_DRIVER_MEM, else
    half the host's memory clamped to 2-8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, AttributeError):
        return "2g"


def build():
    """Classpath and JVM options, from the cache or a fresh sbt build."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources under {ROOT} (expected build.sbt and src/main/scala)")
    mem = driver_mem()
    h = hashlib.sha256(mem.encode())
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:16]
    cache = os.path.join(WORK, "build", key)
    cached = read_launch(os.path.join(cache, "launch.txt"))
    if cached is None:
        env = dict(os.environ, SPARK_DRIVER_MEM=mem, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        env.setdefault("SBT_OPTS", " ".join(
            ["-Dsbt.offline=true", "-Xmx2g"] +
            ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
             if os.path.isfile(repos) else [])))
        print(f"perfbench: building {key} with sbt", file=sys.stderr)
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                           cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=840)
        built = os.path.join(BENCH, "target", "launch.txt")
        if r.returncode != 0 or not os.path.isfile(built):
            fail(f"sbt build failed (exit {r.returncode})")
        freeze(built, cache)
        cached = read_launch(os.path.join(cache, "launch.txt"))
        if cached is None:
            fail("sbt build left a classpath with missing entries")
    return (key,) + cached


def freeze(built, cache):
    """Copies every classpath entry that lives in the checkout (the class
    directories sbt compiles into, which the next build of other sources
    overwrites) into `cache`, class directories as jars, and writes the
    launch file there naming the copies. Entries outside the checkout
    (the Spark and Scala jars) are named as they are."""
    with open(built) as f:
        lines = f.read().splitlines()
    tmp = cache + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = []
    root = os.path.realpath(ROOT)
    for i, entry in enumerate(lines[0].split(os.pathsep)):
        if os.path.commonpath([os.path.realpath(entry), root]) != root:
            cp.append(entry)
            continue
        name = f"{i:03d}-{os.path.basename(entry.rstrip(os.sep)) or 'root'}"
        if os.path.isdir(entry):
            name += ".jar"
            with zipfile.ZipFile(os.path.join(tmp, name), "w", zipfile.ZIP_DEFLATED) as z:
                for d, _, names in os.walk(entry):
                    for n in sorted(names):
                        full = os.path.join(d, n)
                        z.write(full, os.path.relpath(full, entry))
        elif os.path.isfile(entry):
            shutil.copyfile(entry, os.path.join(tmp, name))
        else:
            continue  # a class directory sbt never had to create
        cp.append(os.path.join(cache, name))
    with open(os.path.join(tmp, "launch.txt"), "w") as f:
        f.write("\n".join([os.pathsep.join(cp)] + lines[1:]) + "\n")
    shutil.rmtree(cache, ignore_errors=True)
    os.replace(tmp, cache)


def read_launch(path):
    """(classpath, JVM options) from a launch file, or None when it is
    missing or names a classpath entry that is gone."""
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        lines = f.read().splitlines()
    cp, opts = lines[0], [o for o in lines[1:] if o]
    if not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        return None
    return cp, opts


def revision(source_key):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return f"source-{source_key}"


# -- oracle -----------------------------------------------------------------

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True,
                        key=lambda s: s.astype(str))
    return df.reset_index(drop=True)


def oracle_check(o):
    """The registry query's output against its DuckDB oracle, compared as
    tools/check_oracle.py compares (name-sorted columns, sorted rows,
    exact string values). Returns (ok, detail)."""
    import glob
    import duckdb
    import pandas as pd
    golden = os.path.join(ROOT, "src", "test", "resources", "golden")
    # the oracle SQL names its committed goldens by absolute path; re-root
    # them at this checkout
    sql = re.sub(r"'[^']*/src/test/resources/golden/", f"'{golden}/", o["sql"])
    parts = glob.glob(os.path.join(o["output"], "*.parquet"))
    if not parts:
        return False, f"{o['query']}: no output"
    a = canon(pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True))
    # the oracle's answer depends only on its SQL and the files it reads,
    # so it is computed once per checkout and kept
    h = hashlib.sha256(sql.encode())
    for path in sorted(set(re.findall(r"'([^']+\.(?:parquet|tsv|csv|json))'", sql))):
        with open(path, "rb") as f:
            h.update(f.read())
    cached = os.path.join(WORK, "oracle-cache", h.hexdigest()[:16] + ".parquet")
    if not os.path.isfile(cached):
        con = duckdb.connect()
        df = con.execute(sql).df()
        con.close()
        os.makedirs(os.path.dirname(cached), exist_ok=True)
        df.to_parquet(cached + ".tmp")
        os.replace(cached + ".tmp", cached)
    b = canon(pd.read_parquet(cached))
    if list(a.columns) != list(b.columns):
        return False, f"{o['query']}: columns {list(a.columns)} vs oracle {list(b.columns)}"
    if len(a) != len(b):
        return False, f"{o['query']}: {len(a)} rows vs oracle {len(b)}"
    for c in a.columns:
        diff = a[c].astype(str) != b[c].astype(str)
        if diff.any():
            i = diff.idxmax()
            return False, (f"{o['query']}: column {c} differs in {int(diff.sum())} rows, "
                           f"first {a[c][i]!r} vs oracle {b[c][i]!r}")
    return True, f"{o['query']}: exact match with its DuckDB oracle, {len(a)} rows"


# -- metrics ----------------------------------------------------------------

def end_to_end(rec, passes):
    rows = rec["input"]["rows"]
    return {
        "wall_s": [p["wall_s"] for p in passes],
        "rows_per_s": [rows / p["wall_s"] for p in passes],
        "setup_s": [rec["setup_s"]],
        "peak_storage_mb": [p["peak_storage_mb"] for p in passes],
    }


def per_layer(rec, untraced, traced):
    out = {name: [p["spark"][name] for p in traced] for name in SPARK_ENGINE}
    out["spark.broadcasts"] = [p["broadcasts"] for p in traced]
    out["spark.broadcast_mb"] = [p["broadcast_mb"] for p in traced]
    out["run.pins"] = [p["pins"] for p in traced]
    by_name = stats.self_time_by_name(rec["spans"])
    for name, base, span in PREFIXES:
        full = by_name.get(span, [])
        prev = by_name.get(base, [0.0] * len(full)) if base else [0.0] * len(full)
        out[name] = [x - y for x, y in zip(full, prev)]
    for name in STAGE_SPANS:
        out[name] = by_name.get(name, [])
    # the flagship job on the skewed probe input (traced panel)
    for k in ("task_skew", "max_task_s", "busy_frac"):
        out["skew." + k] = [r["spark." + k] for r in rec["skew_probe"]]
    ut = stats.summary([p["wall_s"] for p in untraced])["median"]
    tr = stats.summary([p["wall_s"] for p in traced])["median"]
    out["trace_overhead_frac"] = [tr / ut - 1.0]
    return {name: out[name] for name, _ in PER_LAYER}


def run_one(args, key, cp, opts):
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    stamp_utc = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S%f")
    base = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp_utc}"
    raw = os.path.join(WORK, "results", base + ".raw.json")
    nproc = len(os.sched_getaffinity(0))
    cmd = (["java"] + opts + [f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
                              "-cp", cp, "perfbench.Main",
                              "--workload", args.workload, "--seed", str(args.seed),
                              "--seconds", str(args.seconds), "--trace", str(args.trace),
                              "--cores", str(nproc), "--work", WORK,
                              "--data", os.path.join(BENCH, "data"), "--out", raw])
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{args.workload}: JVM did not finish within {JVM_TIMEOUT_S} s", 1)
    if r.returncode != 0 or not os.path.isfile(raw):
        fail(f"{args.workload}: JVM exited with {r.returncode}", 1)
    with open(raw) as f:
        rec = json.load(f)

    passes = rec["passes"]
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    ref = rec["warmup_digest"]
    bad = [p for p in passes if p["error"] or p["digest"] != ref]
    checks = [(c["ok"], c["detail"]) for c in rec["checks"]]
    if rec.get("oracle"):
        checks.append(oracle_check(rec["oracle"]))
    attempted = len(passes)
    # a failed output check fails every pass: each produced that output
    failed = len(bad) if all(ok for ok, _ in checks) else attempted
    checks.append((not bad, f"{attempted - len(bad)} of {attempted} passes ran and "
                            f"matched the warm-up's digest"
                            + (f"; first bad: {bad[0]['error'] or bad[0]['digest']}"
                               if bad else "")))

    stamp = {
        "bench": BENCH_VERSION, "workload": args.workload, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc,
        "input": {k: v for k, v in rec["input"].items() if k != "rows"},
        "jvm_options": opts, "seed": args.seed, "input_rows": rec["input"]["rows"],
        "revision": revision(key), "source_key": key,
    }
    if args.trace:
        values = per_layer(rec, untraced, traced)
    else:
        values = end_to_end(rec, untraced)
    summaries = {}
    for name, xs in values.items():
        if not xs:
            fail(f"{args.workload}: no samples for {name}", 1)
        summaries[name] = dict(stats.summary(xs),
                               unit=dict(PER_LAYER if args.trace else END_TO_END)[name])
    result = {"stamp": stamp, "digest": ref, "checks": checks, "attempted": attempted,
              "failed": failed, "failed_frac": failed / attempted,
              "metrics": summaries}
    with open(os.path.join(WORK, "results", base + ".json"), "w") as f:
        json.dump(result, f, indent=1)
    if args.trace:
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        trace_file = os.path.join(WORK, "trace", base + ".json")
        with open(trace_file, "w") as f:
            json.dump(dict(result, spans=rec["spans"],
                           self_times=stats.self_times(rec["spans"]),
                           passes=passes, skew_probe=rec["skew_probe"],
                           panel_inputs=rec["panel_inputs"]),
                      f, indent=1)
        print(f"# trace written to {os.path.relpath(trace_file, ROOT)}")

    print(f"# {args.workload} seed={args.seed} nproc={nproc} rows={rec['input']['rows']} "
          f"revision={stamp['revision']} digest={ref}")
    for ok, detail in checks:
        print(f"# check {'ok' if ok else 'FAILED'}: {detail}")
    print(f"# failed_frac {failed}/{attempted} = {failed / attempted:.4f}")
    for name, s in summaries.items():
        print(f"# {name:28s} {s['median']:14.6f} {s['unit']:6s} "
              f"q1={s['q1']:.6f} q3={s['q3']:.6f} n={s['n']}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": s["median"], "unit": s["unit"]}
                        for n, s in summaries.items()}}


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    key, cp, opts = build()
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = []
    for name in names:
        args.workload = name
        results.append(run_one(args, key, cp, opts))
        print(json.dumps(results[-1]))
    sys.exit(0 if all(r["correct"] for r in results) else 1)


if __name__ == "__main__":
    main()
