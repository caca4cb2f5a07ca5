#!/usr/bin/env python3
"""One benchmark run of graft: one workload, one seed, one JVM.

Usage, from the repository root:
  python3 perfbench/run.py --workload {export,store,curate} --seed N \
      --seconds S --trace {0,1}

Steps: build graft and the harness from source (only when a source file
changed), generate the workload's parquet inputs from the seed, run the
harness JVM (session, oracle pass, warm-up pass, measured passes), then compare
the oracle pass's results with tools/check.py, the repository's DuckDB oracle
compare, unchanged. The last stdout line is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Exits non-zero when any query throws or disagrees with the
oracle. Build output and run records go under $CARGO_TARGET_DIR (default
.bench_build)/perfbench.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # keep the source tree free of build output
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Workload = queries + generator sizes. `rows` is the input rows one pass
# reads (sum over its queries of the rows of the table each one reads).
# BENCHMARK.json lists export and store; curate is runnable by hand (a run
# of it costs more than the time budget per run allows, see README.md).
WORKLOADS = {
    "export": dict(
        queries=["export_records", "incremental_export", "jsonl_snapshot"],
        sizes=dict(cells=20_000, users=3_000, docs=100, vecs=100),
        rows=lambda s: 3 * s["cells"]),
    "store": dict(
        queries=["stream_compact"],
        sizes=dict(cells=1_000, users=100, docs=100, vecs=100),
        rows=lambda s: s["vecs"]),
    "curate": dict(
        queries=["dedup_pipeline_mp", "dedup_minhash", "tokenize_pack"],
        sizes=dict(cells=1_000, users=100, docs=500, vecs=100),
        rows=lambda s: 3 * s["docs"]),
}
JVM_TIMEOUT_S = 150
CHECK_TIMEOUT_S = 20
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(jars):
            return jars
    except ImportError:
        pass
    fail("no Spark jars: set SPARK_HOME")


def build(build_dir, jars):
    """Compiles when the digest of the sources differs from the last build's."""
    sources = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not sources:
        fail("src/main/scala not found: run from the root of a graft checkout")
    sources += sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    h = hashlib.sha256()
    for p in sources + [os.path.join(HERE, "build.sh")]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    if os.path.exists(stamp):
        os.remove(stamp)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes, jars], cwd=ROOT,
                       stdout=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def run_jvm(cmd, log_path, timeout):
    with open(log_path, "w") as log:
        # SPARK_LOCAL_DIRS would override spark.local.dir (the run directory)
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            fail(f"harness JVM exceeded {timeout}s; log: {log_path}", 3)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        fail(f"harness JVM exited {p.returncode}; log: {log_path}", 3)
    return json.loads(lines[-1][len("PERFBENCH "):])


def oracle_check(data, results, log_path):
    """tools/check.py verdict per query: {name: True/False}."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools/check.py"), data, results],
                       cwd=ROOT, capture_output=True, text=True, timeout=CHECK_TIMEOUT_S)
    with open(log_path, "w") as f:
        f.write(r.stdout + r.stderr)
    verdict = {}
    for line in r.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            verdict[rest.split(" ")[0].rstrip(":")] = word == "PASS"
    return verdict


def main():
    ap = argparse.ArgumentParser(description="graft benchmark: one workload, one run")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    jars = spark_jars()
    classes = build(build_dir, jars)

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, results = os.path.join(run_dir, "data"), os.path.join(run_dir, "results")
    for d in (data, results, os.path.join(run_dir, "tmp")):
        os.makedirs(d)
    gen.generate(data, a.seed, **w["sizes"])

    cp = os.pathsep.join([classes, os.path.join(ROOT, "src/main/resources"), os.path.join(jars, "*")])
    # a heap limit and a fixed young generation, neither pre-touched: VmHWM
    # then follows what the run keeps live (old generation, cached RDDs
    # included), not how far G1 happened to grow the young generation
    heap = ["-Xmx1536m", "-Xmn256m"]
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + heap +
           [f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.PerfBench",
            a.workload, data, run_dir, str(a.seconds), str(a.trace), str(int(time.time() * 1000))]
           + w["queries"])
    rec = run_jvm(cmd, os.path.join(run_dir, "jvm.log"), JVM_TIMEOUT_S)
    t_check = time.time()
    verdict = oracle_check(data, results, os.path.join(run_dir, "check.log"))
    check_s = time.time() - t_check

    # failed executions: oracle-pass executions that threw or mismatched, plus
    # executions that threw in any later pass
    oracle_bad = {q for q in w["queries"] if not verdict.get(q, False)}
    oracle_bad |= {e["query"] for e in rec["errors"] if e["pass"] == -1}
    failed = len(oracle_bad) + sum(1 for e in rec["errors"] if e["pass"] != -1)
    attempted = rec["attempted"]
    correct = failed == 0

    walls = [p["wall_s"] for p in rec["passes"] if not p["traced"]]
    wall = statistics.median(walls)
    rows = w["rows"](w["sizes"])
    summary = {
        "workload": a.workload, "seed": a.seed, "queries": w["queries"], "sizes": w["sizes"],
        "rows_per_pass": rows, "passes": len(rec["passes"]), "fail_ratio": failed / attempted,
        "oracle": verdict, "oracle_check_s": check_s, "errors": rec["errors"],
        "host": [{k: p[k] for k in ("pass", "loadavg1", "steal_pct")} for p in rec["passes"]],
        "query_median_s": {q: statistics.median(p["queries"][q] for p in rec["passes"] if q in p["queries"])
                           for q in w["queries"] if any(q in p["queries"] for p in rec["passes"])},
    }
    if a.trace:
        # q.<query>.* exist on one workload only: summary line, not metrics
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in rec["layers"].items()
                   if not k.startswith("q.")}
        summary["per_query"] = {k: v for k, v in rec["layers"].items() if k.startswith("q.")}
        summary["span_self_s"] = rec["span_self_s"]
    else:
        metrics = {
            "setup_s": {"value": rec["setup_s"], "unit": "s"},
            "wall_s": {"value": wall, "unit": "s"},
            "rows_per_s": {"value": rows / wall, "unit": "rows/s"},
            "peak_rss_mb": {"value": rec["peak_rss_mb"], "unit": "MB"},
        }
        summary["wall_s_samples"] = len(walls)
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    for d in (data, results, os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local")):
        shutil.rmtree(d, ignore_errors=True)

    print(json.dumps(summary))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


def unit_of(name):
    """Unit of a per-layer metric, from its name (see BENCHMARK.json)."""
    if name.endswith("ns_per_row"):
        return "ns"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name == "exec.core_busy":
        return "ratio"
    if name.endswith("_s") or name in ("planning.s", "exec.s"):
        return "s"
    return "count"


if __name__ == "__main__":
    main()
