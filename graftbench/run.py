#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 graftbench/run.py --workload ingest-native --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source (see Makefile); every run then stages its inputs,
runs the workload in a fresh JVM at local[nproc], checks its outputs and
prints `{"correct", "attempted", "failed", "metrics"}` as the last line
of standard output: the end-to-end metrics of BENCHMARK.json with
`--trace 0`, its per-layer metrics with `--trace 1`. Per-layer metrics a
workload does not exercise read 0. Everything else goes to stderr.

`--record FILE` writes the query-mix results to FILE instead of checking
them; recording twice keeps a hash only where both recordings agree.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest-native", "query-mix")
EXPECTED = os.path.join(HERE, "expected", "query_mix.json")
# the engine's fixed test tables (seed 42, scale 0.01): the expected
# results were recorded on them
TABLES = os.path.join(HERE, "tables", "sf0.01")
DEADLINE_S = 170
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def spark_jars():
    """Spark's jar directory: $SPARK_JARS, else $SPARK_HOME/jars, else the
    one beside `spark-submit` on the PATH."""
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    home = os.environ.get("SPARK_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("spark-submit") or "")))
    return os.path.join(home, "jars")


def build():
    """Compile the engine and the benchmark if any source changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources under src/main/scala: run from the root of a checkout", 2)
    if not os.path.isdir(spark_jars()):
        fail(f"no Spark jars at {spark_jars()}: set SPARK_HOME or SPARK_JARS", 3)
    done = subprocess.run(["make", "-s", "-C", HERE, f"SPARK_JARS={spark_jars()}"],
                          stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        fail("build failed", 3)


def run_jvm(args, work, deadline):
    """Run graftbench.Main; its output goes to work/jvm.log."""
    # a fixed heap: the resident set then tracks it rather than the
    # collector's sizing decisions
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData"]
           + [f for p in JDK_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
              f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false",
              "-cp", os.path.join(ROOT, ".bench_build", "classes") + os.pathsep + spark_jars() + "/*",
              "graftbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both in the checkout
        env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/local")
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work, env=env,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    with open(os.path.join(work, "jvm.log")) as f:
        lines = f.readlines()
    sys.stderr.write("".join(l for l in lines if l.startswith("[graftbench")))
    if code != 0:
        sys.stderr.write("".join(lines[-40:]))
        fail(f"benchmark JVM failed ({code})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def check_queries(results, errors, record):
    """Failed queries: a crash, or a result that differs from the
    recorded one (row count, and hash unless the hash is not stable)."""
    if record:
        old = {}
        if os.path.exists(record):
            with open(record) as f:
                old = json.load(f)["queries"]
        merged = {q: {"rows": r["rows"],
                      "hash": r["hash"] if q not in old or old[q]["hash"] == r["hash"] else None}
                  for q, r in results.items()}
        with open(record, "w") as f:
            json.dump({"tables": os.path.relpath(TABLES, ROOT), "queries": merged}, f, indent=1, sort_keys=True)
            f.write("\n")
        return len(errors)
    with open(EXPECTED) as f:
        expected = json.load(f)["queries"]
    bad = [q for q, r in results.items()
           if q not in expected or r["rows"] != expected[q]["rows"]
           or (expected[q]["hash"] is not None and r["hash"] != expected[q]["hash"])]
    for q in bad:
        log(f"wrong result: {q} {results[q]} expected {expected.get(q)}")
    for e in errors:
        log(f"query failed: {e}")
    return len(bad) + len(errors)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build()

    start = time.time()
    work = os.path.join(ROOT, ".bench_build", "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), work]
    if a.workload == "query-mix":
        args.append(TABLES)
    try:
        r = run_jvm(args, work, start + DEADLINE_S)
        if a.trace:
            spans = os.path.join(ROOT, ".bench_build", "spans")
            os.makedirs(spans, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(spans, f"{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = r["failed"]
    if a.workload == "query-mix":
        failed += check_queries(r["queries"], r["errors"], a.record)
    values = dict(r["metrics"])
    values["setup_s"] = r["first_op_ms"] / 1000 - start
    values["peak_rss_mb"] = r["peak_rss_kb"] / 1024
    if a.trace:
        values = r["layers"]
        specs = spec["per_layer"]
    else:
        specs = spec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in specs}
    print(json.dumps({"correct": failed == 0, "attempted": r["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
