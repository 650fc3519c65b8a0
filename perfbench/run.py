#!/usr/bin/env python3
"""Benchmark for the graft engine: one command, two workloads.

    python3 perfbench/run.py --workload pipeline|query \
        --seed N --seconds S --trace 0|1

Builds the engine together with the benchmark's Spark driver (once per
source tree), runs the workload in one Spark process at local[<cores>],
checks every output, and prints each metric by name and unit. The last
line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones listed in BENCHMARK.json, with --trace 1 the
per-layer ones.

Build output lands in .bench_build, scratch data in .bench_work and span
files in .bench_out, all at the checkout root.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
WORKLOADS = ["pipeline", "query"]
RUN_LIMIT_S = 160
BUILD_LIMIT_S = 600

# The JDK 17 module openings Spark needs outside spark-submit (the same
# list as the engine's own build).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]]

# Metrics of the issue's table that each workload prints, with units.
REPORTED = [
    ("setup_s", "s", None),
    ("failed_ratio", "failed/attempted", None),
    ("retained_cache_mb", "MB", None),
    ("load_rows_per_s", "rows/s", "pipeline"),
    ("compact_rows_per_s", "rows/s", "pipeline"),
    ("docs_write_per_s", "docs/s", "pipeline"),
    ("docs_read_per_s", "docs/s", "pipeline"),
    ("stored_bytes_per_input_byte", "ratio", "pipeline"),
    ("query_s_p50", "s", "query"),
    ("query_s_tail", "s", "query"),
    ("segment_docs_per_s", "docs/s", "pipeline"),
    ("tokenize_docs_per_s", "docs/s", "pipeline"),
    ("neardup_docs_per_s", "docs/s", "pipeline"),
    ("cluster_docs_per_s", "docs/s", "pipeline"),
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_proc(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it; on timeout the
    whole group is killed and reaped. Returns (returncode, stdout, stderr),
    returncode None on timeout."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
        return proc.returncode, out, err
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, err = proc.communicate()
        return None, out, err


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) \
            if submit else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(env):
    """Compile the engine and the benchmark driver unless this source tree
    is already built."""
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return
    if not shutil.which("sbt"):
        fail("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    code, out, err = run_proc(["sbt", "-batch", "-Dsbt.log.noformat=true",
                               "Compile / products"], BUILD_LIMIT_S,
                              cwd=HERE, env=env)
    if code != 0:
        sys.stderr.write(out[-6000:] + err[-3000:])
        fail("build failed" if code is not None else "build timed out")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"# built in {time.time() - t0:.1f} s", file=sys.stderr)


def run_jvm(args, env, work, out_file, spans_prefix):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xmx3g", "-XX:+UseParallelGC", *ADD_OPENS,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
           "perfbench.Main", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", os.path.join(work, "data"),
           "--out", out_file, "--spans", spans_prefix]
    cmd += ["--tiny"] if args.tiny else []
    cmd += ["--corrupt"] if args.corrupt else []
    code, stdout, stderr = run_proc(cmd, RUN_LIMIT_S, env=env)
    if code is None:
        fail(f"workload run exceeded {RUN_LIMIT_S} s")
    if code != 0 or not os.path.exists(out_file):
        causes = [l for l in stderr.splitlines()
                  if "Exception" in l and not l.lstrip().startswith("at ")]
        sys.stderr.write(stdout[-3000:] + "\n".join(causes[:8]) + "\n")
        fail(f"workload run exited with {code}")
    with open(out_file) as fh:
        return json.load(fh)


# ---- DuckDB oracle for the query workload ---------------------------------

def _normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].dt.tz_localize(None) if getattr(df[c].dt, "tz", None) \
                else df[c]
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _same(spark_df, duck_df):
    """Exact comparison after sorting columns by name and rows by value;
    floats must be bit-equal (NaN equals NaN)."""
    import pandas as pd
    s, d = _normalize(spark_df), _normalize(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"{len(s)} rows vs {len(d)}"
    for c in s.columns:
        for i, (a, b) in enumerate(zip(s[c], d[c])):
            if isinstance(a, float) and isinstance(b, float) and \
                    math.isnan(a) and math.isnan(b):
                continue
            if not (a == b or (pd.isna(a) and pd.isna(b))):
                return f"{c} row {i}: {a!r} vs {b!r}"
    return None


def check_queries(data_dir, failed_to_run):
    """Compare every saved query result with its oracle SQL in DuckDB over
    the generated input tables. Queries in `failed_to_run` already count
    as failed. Returns (checks, problems)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    with open(os.path.join(data_dir, "inputs")) as fh:
        inputs = fh.read()
    for f in glob.glob(os.path.join(inputs, "*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}/*.parquet')")
    with open(os.path.join(data_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    problems = []
    for name, sql in sorted(oracle.items()):
        if name in failed_to_run:
            continue
        try:
            spark_df = pd.read_parquet(os.path.join(data_dir, "results", name))
            why = _same(spark_df, con.execute(sql).df())
        except Exception as e:  # a failed read or oracle query is a mismatch
            why = f"{type(e).__name__}: {e}"
        if why:
            problems.append(f"query: {name} differs from the oracle ({why})")
    con.close()
    return len(oracle), problems


# ---- reporting ------------------------------------------------------------

def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def report(res):
    m = res["metrics"]
    m["failed_ratio"] = res["failed"] / max(1, res["attempted"])
    print(f"== {res['workload']}: {res['attempted']} attempted, "
          f"{res['failed']} failed, {res['passes']} timed passes"
          + (f", {res['traced_passes']} traced" if res["traced_passes"] else ""))
    for name, unit, wl in REPORTED:
        if wl in (None, res["workload"]) and name in m:
            extra = f"  (p{int(m[name + '_pct'])})" if name + "_pct" in m else ""
            print(f"   {name:<30} {fmt(m[name]):>12} {unit}{extra}")
    print(f"   {'pass_s':<30} {fmt(m['pass_s']):>12} s")
    for k in ("verify_side_bytes", "verify_gate_bytes", "planted_share",
              "planted_pairs_above_threshold"):
        if k in m:
            print(f"   {k:<30} {fmt(m[k]):>12}")
    h = res["host"]
    print(f"   host: loadavg {h['loadavg_start']:.2f} -> {h['loadavg_end']:.2f}, "
          f"process cpu {h['process_cpu_s']:.1f} s, cores {h['cores']}, "
          f"contended {h['contended']}")
    print("   phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in res["phases_s"].items()))
    for line in res["layer_table"]:
        print("   " + line)
    if res["per_layer"]:
        print(f"   tracing overhead {res['per_layer']['bench.tracing_overhead_s']:+.3f} s"
              f" per pass; benchmark gaps {res['per_layer']['bench.gap_s']:.3f} s")
    for p in res["problems"]:
        print(f"   FAILED {p}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test input sizes")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage one output per workload before checking it")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine's sources (src/main/scala/graft) are not in this tree")
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_file):
        fail("BENCHMARK.json is missing")
    with open(spec_file) as fh:
        spec = json.load(fh)

    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env.pop("SPARK_GRAFT_MASTER", None)
    build(env)

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        res = run_jvm(args, env, work, os.path.join(work, "result.json"),
                      os.path.join(OUT, f"spans-seed{args.seed}"))
        if args.workload == "query":
            ran = {p.split()[1] for p in res["problems"]
                   if p.startswith("query: ")}
            checks, problems = check_queries(res["dir"], ran)
            res["attempted"] += checks
            res["failed"] += len(problems)
            res["problems"] += problems
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report(res)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["per_layer"] if args.trace else res["metrics"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"], 0.0 if args.trace else None)
        if v is None:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
