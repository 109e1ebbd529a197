#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark's Scala main from source with sbt
(cached under perfbench/.build until a source file changes), runs it in
its own JVM, and prints its result as the last stdout line:
one JSON object with `correct`, `attempted`, `failed` and `metrics`.

For `query_library` the JVM writes each query's result once per run;
this script replays each query's oracle SQL in DuckDB over the same
generated tables and counts every mismatch as a failed operation, with
the canonicalization of tools/check_oracle.py.

Exits non-zero without printing a result when the engine sources are
missing, the build or the run fails, or the metrics do not match
BENCHMARK.json.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("cron_small_files", "query_library")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, cwd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def sources_stamp():
    """Hash of every build input: engine and benchmark sources and builds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        inputs += sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    for f in inputs:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Compile engine + benchmark once per source state; return the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"engine sources not found ({need}); run from the repository root")
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    try:
        code, out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            HERE, BUILD_TIMEOUT_S, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:])
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def oracle_failures(work):
    """Replay each written result's oracle SQL in DuckDB; list mismatches."""
    import duckdb
    import pandas as pd
    sys.dont_write_bytecode = True  # leave no cache next to the checker
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    check_oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check_oracle)
    results = os.path.join(work, "results")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in glob.glob(os.path.join(work, "tables", "*.parquet")):
        name = os.path.basename(t)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}/*.parquet'")
    bad = []
    for name, sql in sorted(oracle.items()):
        got_dir = os.path.join(results, name)
        if not os.path.isdir(got_dir):
            continue  # the query threw; the JVM already counted it
        try:
            want = check_oracle.canon(con.sql(sql).df())
            got = check_oracle.canon(pd.read_parquet(got_dir))
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            bad.append(f"{name}: oracle replay error {e}")
            continue
        if list(want.columns) != list(got.columns):
            bad.append(f"{name}: columns {list(got.columns)} != {list(want.columns)}")
        elif len(want) != len(got):
            bad.append(f"{name}: {len(got)} rows != oracle {len(want)}")
        elif not want.equals(got):
            bad.append(f"{name}: values differ from the oracle")
    return bad


def expected_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        die("BENCHMARK.json not found")
    with open(path) as f:
        bench = json.load(f)
    return [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    names = expected_metrics(a.trace)
    cp = classpath()
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.callstack.depth=200",
           "-Dderby.system.home=" + work]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    try:
        t0 = time.monotonic()
        try:
            code, out = run_group(cmd, ROOT, RUN_TIMEOUT_S,
                                  stdout=subprocess.PIPE, text=True)
        except subprocess.TimeoutExpired:
            die("run timed out")
        lines = [l for l in out.splitlines() if l.strip()]
        if code != 0 or not lines:
            die(f"benchmark JVM exited with {code}")
        res = json.loads(lines[-1])
        print(f"perfbench: benchmark JVM {time.monotonic() - t0:.1f} s", file=sys.stderr)
        if a.workload == "query_library":
            t0 = time.monotonic()
            bad = oracle_failures(work)
            print(f"perfbench: oracle replay {time.monotonic() - t0:.1f} s", file=sys.stderr)
            for b in bad:
                print(f"perfbench: FAILED oracle {b}", file=sys.stderr)
            res["failed"] += len(bad)
            res["correct"] = res["failed"] == 0
            ratio = res["failed"] / max(1, res["attempted"])
            key = "failed_ops_ratio" if a.trace else "ok_ops_ratio"
            res["metrics"][key]["value"] = ratio if a.trace else 1.0 - ratio
        if sorted(res["metrics"]) != sorted(names):
            die(f"metrics {sorted(set(res['metrics']) ^ set(names))} disagree "
                "with BENCHMARK.json", 3)
        if a.trace:
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            for kind in ("spans", "jobs"):
                shutil.copy(os.path.join(work, f"{kind}.json"),
                            os.path.join(traces, f"{a.workload}-{a.seed}.{kind}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
