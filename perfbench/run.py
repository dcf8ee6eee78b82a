#!/usr/bin/env python3
"""Benchmark launcher: one run of one workload.

    python3 perfbench/run.py --workload <upbit_daily|upbit_stream|curation_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness
once with sbt (skipped when the sources are unchanged since the last
build), then starts one plain JVM (pinned heap and GC, local[4]), checks
the run's outputs against independent DuckDB / plain-Python computations,
and prints one JSON line as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans are kept under .bench_build/traces/.
All run outputs go to a temporary directory under .bench_build/, which
is removed at the end.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import checks

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
DATA = os.path.join(BENCH, "data", "sf0.001")
WORKLOADS = ("upbit_daily", "upbit_stream", "curation_mix")
RUN_LIMIT_S = 170
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the program and the harness unless both are unchanged."""
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building program and harness with sbt")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    rc = subprocess.run(["sbt", "-batch", "-Dsbt.server.forcestart=false", "compile"],
                        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr).returncode
    if rc != 0:
        sys.exit(f"perfbench: build failed (sbt exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def spark_home():
    """The Spark installation the program compiles and runs against."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: set SPARK_HOME (no spark-submit on PATH)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run_jvm(args, out):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = [java_bin()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", f"{CLASSES}:{spark_home()}/jars/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", out, "--data", DATA]
    launched = time.time()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: run exceeded {RUN_LIMIT_S} s")
    if rc != 0:
        sys.exit(f"perfbench: benchmark JVM exited with {rc}")
    return launched


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        sys.exit(f"perfbench: program sources not found at {PROGRAM_SRC}")
    build()

    work_root = os.path.join(os.getcwd(), ".bench_build")
    os.makedirs(work_root, exist_ok=True)
    out = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work_root)
    try:
        launched = run_jvm(args, out)
        with open(os.path.join(out, "result.json")) as fh:
            res = json.load(fh)
        for e in res["errors"]:
            log(f"error: {e}")
        problems = checks.run(args.workload, res["check"])
        if res["failed"]:
            problems.append(f"{res['failed']} of {res['attempted']} operations failed")
        for p in problems:
            log(f"check failed: {p}")
        if args.trace:
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["layers"].items()}
            keep = os.path.join(work_root, "traces")
            os.makedirs(keep, exist_ok=True)
            dest = os.path.join(keep, f"{args.workload}-seed{args.seed}.json")
            shutil.copy(os.path.join(out, "trace.json"), dest)
            log(f"spans written to {dest}")
        else:
            e2e = dict(res["e2e"])
            e2e["setup_s"] = res["first_timed_epoch_ms"] / 1000.0 - launched
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(e2e.items())}
        log(f"rounds={res['rounds']} timed_ops={res['timed_ops']} latencies_ms="
            + " ".join(f"{x:.0f}" for x in res["latencies_ms"]))
        print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
        return 0 if not problems else 1
    finally:
        shutil.rmtree(out, ignore_errors=True)


def unit_of(name):
    if name == "rows_per_s":
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_share") or name.endswith("_over_median"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
