#!/usr/bin/env python3
"""Streaming benchmark of the trade pipeline.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload trade-catchup|trade-paced \
        --seed N --seconds S --trace 0|1

Builds the engine together with the harness in perfbench/ (sbt, offline)
whenever their sources differ from the last build in this tree, runs one
workload in a fresh JVM on local[4], and prints as its last line one JSON
object: correct, attempted, failed and metrics. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics; a traced run also times registry entries and checks their outputs
against DuckDB oracles (oracle.py). Exits non-zero on a wrong output, a
missing metric or a failed build. Run outputs stay under .bench_build/ in
the checkout, build outputs under perfbench/target/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import oracle

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
JVMOPTS = os.path.join(TARGET, "jvmopts.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_bounded(cmd, cwd, log_path, limit_s):
    """Run cmd in its own process group, output to log_path; kill the whole
    group if it outlives limit_s. Returns the exit code (None on timeout)."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def source_hash():
    """Digest of everything the build compiles: the engine's sources, the
    harness's sources and the harness's build definition."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        files = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for path in files:
            h.update(os.path.relpath(path, ROOT).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
            h.update(b"\0")
    return h.hexdigest()


def build():
    """Compile engine + harness unless the last build in this tree was of
    the same sources; leaves the runtime classpath and the JVM flags in
    perfbench/target/."""
    digest = source_hash()
    outputs = (CLASSPATH, JVMOPTS, STAMP)
    if all(os.path.exists(p) for p in outputs) and open(STAMP).read() == digest:
        return
    for p in outputs:
        if os.path.exists(p):
            os.remove(p)
    log = os.path.join(OUT, "build.log")
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       BENCH, log, BUILD_LIMIT_S)
    if code != 0 or not os.path.exists(CLASSPATH) or not os.path.exists(JVMOPTS):
        sys.stderr.write(tail(log))
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["trade-catchup", "trade-paced"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME/jars not found")
    spec = json.load(open(spec_path))
    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    os.makedirs(OUT, exist_ok=True)
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    with open(JVMOPTS) as f:
        jvm_opts = f.read().split()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(OUT, f"{tag}.log")
    started = time.time()
    t0_ms = int(started * 1000)
    cmd = ["java", *jvm_opts, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp,
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
           "--out", out, "--t0-ms", str(t0_ms)]
    code = run_bounded(cmd, ROOT, log, RUN_LIMIT_S - (time.time() - started))
    try:
        if code != 0 or not os.path.exists(out):
            sys.stderr.write(tail(log))
            fail("timed out" if code is None else f"JVM exited with {code}")
        result = json.load(open(out))
        mix = os.path.join(work, "mix")
        if os.path.exists(os.path.join(mix, "oracle_sql.json")):
            result["failed"] += oracle.check(mix)
            result["correct"] = result["failed"] == 0
        spans = out + ".spans.jsonl"
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(OUT, f"{tag}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(log, errors="replace") as f:
        for line in f:
            if line.startswith("host "):
                print(line.rstrip())
    missing = [m for m in wanted if m not in result["metrics"]]
    extra = [m for m in result["metrics"] if m not in wanted]
    if missing or extra:
        fail(f"metrics do not match BENCHMARK.json: missing {missing}, unexpected {extra}")
    result["metrics"] = {m: result["metrics"][m] for m in wanted}
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and result["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
