#!/usr/bin/env python3
"""Seeded benchmark of the graft CDC engine.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_catchup --seed 1 --seconds 10 --trace 0

Builds the engine together with the harness in perfbench/ (once per
source state), runs one workload in one JVM with Spark local[n], n at
most 4, checks the outputs and prints one JSON line as the last line of
standard output. BENCHMARK.json names the workloads and metrics; see
perfbench/NOTES.md for what each measures and which layer metric should
move which end-to-end metric.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
CLASSES = os.path.join(BUILD_DIR, "scala-2.13", "classes")
STAMP = os.path.join(BUILD_DIR, "perfbench.stamp")
WORKLOADS = ("cdc_catchup", "cdc_tail", "neardup_gate", "dedup_batch")
MAX_CORES = 4


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return home


def source_digest():
    """Content hash of every source the build compiles."""
    h = hashlib.sha256()
    for top in (ENGINE_SRC, HARNESS_SRC, os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(env):
    digest = source_digest()
    if os.path.isfile(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
        return
    print("perfbench: building engine + harness", file=sys.stderr)
    # the build writes nothing outside the checkout: no boot lock, no JVM
    # perf data, temporary files under target/
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(["sbt", "-batch", "-Dsbt.boot.lock=false", "-Djna.tmpdir=" + tmp,
                        "-Djava.io.tmpdir=" + tmp, "-Dsbt.ipcsocket.tmpdir=" + tmp,
                        "-Dsbt.server.autostart=false", "compile"], cwd=HERE,
                       env=dict(env, TMPDIR=tmp, JAVA_TOOL_OPTIONS="-XX:-UsePerfData"),
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(digest)


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}; "
             "run from a full checkout")
    e2e_units, layer_units = declared()
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")   # the build resolves from local caches only
    build(env)

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    traces = os.path.join(HERE, ".traces")
    os.makedirs(work)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    # the JVM's temporary files and perf data stay inside the checkout
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           *opens, "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-cp", os.pathsep.join([CLASSES, os.path.join(env["SPARK_HOME"], "jars", "*")]),
           "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
           "--cores", str(cores),
           "--trace-out", os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl")]
    try:
        r = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                           text=True, timeout=170)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if r.returncode != 0 or not lines:
        fail(f"workload run failed (exit {r.returncode})")
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    for note in res["notes"]:
        print(note, file=sys.stderr)

    if args.trace:
        unknown = set(res["layers"]) - set(layer_units)
        if unknown:
            fail(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        nan = sorted(n for n, v in res["layers"].items() if v is None)
        if nan:
            fail(f"per-layer metrics measured as NaN: {nan}")
        # a layer this workload does not run spent no time and moved no rows: 0
        metrics = {n: {"value": res["layers"].get(n, 0.0), "unit": u} for n, u in layer_units.items()}
    else:
        values = dict(res["e2e"], setup_s=res["setup_s"])
        if set(values) != set(e2e_units):
            fail(f"end-to-end metrics {sorted(values)} != BENCHMARK.json {sorted(e2e_units)}")
        bad = sorted(n for n, v in values.items() if v is None or v <= 0)
        if bad:
            fail(f"end-to-end metrics not measured: {bad}")
        metrics = {n: {"value": values[n], "unit": u} for n, u in e2e_units.items()}
    unmeasured = sorted(n for n, m in metrics.items()
                        if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]))
    if unmeasured:
        fail(f"metrics without a finite value: {unmeasured}")
    failed = int(res["failed"])
    attempted = max(1, int(res["attempted"]))
    print(json.dumps({"correct": failed == 0 and res["valid"], "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
