#!/usr/bin/env python3
"""Runs one workload of the repository benchmark and prints its result.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Run it from the root of a checkout. It builds the program and the
benchmark from source with sbt (only when a source changed), runs the
workload in one JVM in a fresh scratch directory under perfbench/.work,
checks every answer, deletes the scratch directory and prints, as its
last line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("serve_read", "serve_write")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "6g"
# Spark 4 on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (PROGRAM, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compile the program and the benchmark unless nothing changed."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
        return
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "compile"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        die("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def norm(df):
    """Canonical form of a result table: columns sorted by name, floats at
    9 significant digits, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.9g}"
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    out = df.map(cell)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def oracle_failures(gates_dir):
    """Compare each gate's rows with its DuckDB oracle SQL; returns the
    number of gates compared and the failures."""
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    with open(os.path.join(gates_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    failures = []
    for name, sql in sorted(oracle.items()):
        got = norm(con.sql(f"SELECT * FROM '{gates_dir}/{name}/*.parquet'").df())
        want = norm(con.sql(sql).df())
        if list(got.columns) != list(want.columns):
            failures.append(f"{name}: columns {list(got.columns)} != {list(want.columns)}")
        elif len(got) != len(want) or not got.equals(want):
            failures.append(f"{name}: rows differ from the oracle ({len(got)} vs {len(want)})")
    return len(oracle), failures


def run_jvm(workload, seed, seconds, trace, work):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        die("SPARK_HOME is not set")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}{os.pathsep}{spark_home}/jars/*", "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--data", DATA, "--work", work])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                             stdin=subprocess.DEVNULL, text=True)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)

        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, stop)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"{workload} did not finish within {JVM_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        with open(os.path.join(work, "jvm.log")) as fh:
            print(fh.read()[-6000:], file=sys.stderr)
        die(f"{workload} exited with {p.returncode}")
    with open(os.path.join(work, "jvm.log")) as fh:
        for l in fh:
            if l.startswith("[perfbench]"):
                print(l.rstrip(), file=sys.stderr)
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        die("--workload is required")
    if not os.path.isdir(os.path.join(PROGRAM, "graft")):
        die(f"program sources not found under {os.path.relpath(PROGRAM, ROOT)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build()
    free = shutil.disk_usage(HERE).free
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        workload = "selftest" if a.selftest else a.workload
        print(f"perfbench: workload={workload} seed={a.seed} seconds={a.seconds} "
              f"trace={a.trace} free_disk_bytes={free}", flush=True)
        res = run_jvm(workload, a.seed, a.seconds, a.trace, work)
        if a.trace == 1 and not a.selftest:
            n, bad = oracle_failures(os.path.join(work, "gates"))
            for b in bad:
                print(f"perfbench: FAIL {b}", file=sys.stderr)
            res["attempted"] += n
            res["failed"] += len(bad)
            res["correct"] = res["correct"] and not bad
            # keep the spans past the run directory's deletion
            os.replace(os.path.join(work, "spans.tsv"),
                       os.path.join(HERE, ".work", f"spans-{workload}-seed{a.seed}.tsv"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not a.selftest:
        want = spec["per_layer" if a.trace else "end_to_end"]
        missing = [m["name"] for m in want if m["name"] not in res["metrics"]]
        if missing:
            die(f"metrics not measured in this run: {', '.join(missing)}")
        res["metrics"] = {m["name"]: res["metrics"][m["name"]] for m in want}
    print(json.dumps(res))
    if a.selftest and not res["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
