#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program (src/main/scala) and
the benchmark harness (perfbench/src) with the Scala compiler shipped in
$SPARK_HOME/jars when the sources changed, runs workload W in one JVM
(`graft.perfbench.Main`) for S seconds, checks its outputs, and prints as
its last stdout line one JSON object: correct, attempted, failed and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1) named
in BENCHMARK.json. Build outputs, results and spans go under
$CARGO_TARGET_DIR (default .bench_build)/perfbench.
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
RUN_LIMIT_S = 170  # a run must end within 180 s once built
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler (set SPARK_HOME)")
    return os.path.join(home, "jars", "*")


def sources(root):
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        fail("no program sources under src/main/scala: run from the root of a checkout")
    return srcs + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def build(root, out_root, jars):
    """Compile program + harness into classes-<source hash>; reuse if present."""
    srcs = sources(root)
    h = hashlib.sha1()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    for old in glob.glob(os.path.join(out_root, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
                        "-usejavacp", "-nowarn", "-d", tmp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed", 1)
    os.rename(tmp, classes)
    return classes


def run_jvm(cmd, log_path, deadline):
    """Run the JVM in its own process group; kill the group at the deadline."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def duckdb_check(files):
    """Compare each query's written result with its DuckDB oracle SQL,
    both normalised by tools/check.py's norm."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    from check import norm
    spec = {k: v for d in files for k, v in d.items()}
    data, results = spec.pop("data"), spec.pop("results")
    con = duckdb.connect()
    for t in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    errors = []
    for q, sql in sorted(spec.items()):
        parts = glob.glob(os.path.join(results, q, "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in parts], ignore_index=True)
        exp = con.execute(sql).df()
        g, e = norm(got), norm(exp)
        if list(g.columns) != list(e.columns) or len(g) != len(e) or (g != e).any().any():
            errors.append(f"{q}: result differs from its DuckDB oracle "
                          f"(got {len(g)} rows, want {len(e)})")
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--params", default=os.path.join(HERE, "workloads.json"),
                    help="workload parameter file (the smoke tests pass tiny sizes)")
    args = ap.parse_args()

    root = os.getcwd()
    bench_json = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        fail("BENCHMARK.json not found: run from the root of a checkout")
    with open(bench_json) as f:
        bench = json.load(f)
    with open(args.params) as f:
        params = json.load(f).get(args.workload)
    if params is None:
        fail(f"unknown workload {args.workload}")

    out_root = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(out_root, exist_ok=True)
    jars = spark_jars()
    classes = build(root, out_root, jars)

    deadline = time.time() + RUN_LIMIT_S
    results = os.path.join(out_root, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(results, tag + ".json")
    for stale in (out, out[:-len(".json")] + ".spans.jsonl"):
        if os.path.exists(stale):
            os.remove(stale)
    work = os.path.join(out_root, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    heap = params["heap"]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{heap}", f"-Xms{heap}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + jars, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out, "--cores", str(params["cores"])])
    for k in ("pages", "entities", "orders", "sample", "setups"):
        if k in params:
            cmd += [f"--{k}", str(params[k])]
    if params.get("kg_config", {}).get("forceSaltedJoins"):
        cmd += ["--salted", "1"]
    log = os.path.join(results, tag + ".log")
    try:
        t0 = time.time()
        code = run_jvm(cmd, log, deadline)
        print(f"perfbench: jvm {time.time() - t0:.1f} s", file=sys.stderr)
        if code is None:
            fail(f"run exceeded {RUN_LIMIT_S} s (log: {log})", 1)
        if code != 0 or not os.path.exists(out):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"benchmark JVM exited with {code} (log: {log})", 1)
        with open(out) as f:
            res = json.load(f)
        errors = list(res["errors"])
        if res.get("check_files"):
            t0 = time.time()
            errors += duckdb_check(res["check_files"])
            print(f"perfbench: duckdb check {time.time() - t0:.1f} s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    section = "per_layer" if args.trace else "end_to_end"
    values = res[section]
    metrics = {}
    for m in bench[section]:
        v = values.get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {m['name']} missing or not finite: {v}", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for e in errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    correct = res["correct"] and not errors

    print(f"perfbench: workload={args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={res['nproc']} cores={res['cores']} heap_mb={res['heap_mb']} "
          f"job_s_samples={[round(x, 3) for x in res['job_s_samples']]} "
          f"setup_s_samples={[round(x, 3) for x in res['setup_s_samples']]}")
    print("perfbench: extra " + json.dumps({k: round(v, 4) for k, v in sorted(res["extra"].items())
                                            if isinstance(v, (int, float))}))
    if args.trace:
        untraced = os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]["job_s"]
            print(f"perfbench: tracing overhead {values['trace.job_s'] - base:+.4f} s "
                  f"(traced job_s {values['trace.job_s']:.4f} - untraced {base:.4f})")
        print(f"perfbench: spans {out[:-len('.json')]}.spans.jsonl")
    print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
