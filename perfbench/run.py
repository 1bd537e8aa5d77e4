#!/usr/bin/env python3
"""Benchmark of the PIT feature engine. Run from the repository root:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Builds the engine with the harness (sbt, once per source tree), runs one
workload in one JVM at local[min(4, nproc)], checks the outputs with DuckDB
and prints one JSON record as the last line of stdout. `--smoke` runs the same
code paths on a small input. Everything it writes goes under `.bench_build/`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402

WORKLOADS = ("backfill", "pit_join", "resume")
# Conversations generated per workload (about 24.5 turns each, 16% of the
# turns in whale conversations); sized so one job takes a few seconds here.
CONVS = {"backfill": 30_000, "pit_join": 30_000, "resume": 30_000}
SMOKE_CONVS = 2_000
DEADLINE_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")]
    return files


def build(root, build_dir):
    """Compiles the engine and the harness unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        fail("no engine sources under src/main/scala; run from the repository root")
    h = hashlib.sha256()
    for f in sources(root):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(build_dir, "build.stamp")
    classes = os.path.join(build_dir, "sbt", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and os.path.isdir(classes):
        return classes
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.log"), "w") as log:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (rc={rc}); see {build_dir}/build.log")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    # Only for the N-vs-4N reference pair in README.md; the default is the benchmark.
    p.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1))
    a = p.parse_args()

    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    classes = build(root, build_dir)
    started = time.time()
    work = os.path.join(build_dir, "work")
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    java = shutil.which("java") or fail("java not found")
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-cp", f"{classes}:{spark_home}/jars/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(a.cores),
            "--convs", str(SMOKE_CONVS if a.smoke else CONVS[a.workload]),
            "--work", work, "--out", out]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {DEADLINE_S} s; see {log_path}")
    logs = os.path.join(build_dir, "logs")
    os.makedirs(logs, exist_ok=True)
    shutil.copy(log_path, os.path.join(logs, f"{a.workload}_s{a.seed}_t{a.trace}_{int(started)}.log"))
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"engine run failed (rc={rc})")
    with open(out) as fh:
        rec = json.load(fh)

    jvm_done = time.time()
    checks = [tuple(c.values()) for c in rec["checks"]] + check.run(a.workload, rec["export_dir"])
    print(f"perfbench: engine {jvm_done - started:.1f} s, DuckDB check {time.time() - jvm_done:.1f} s",
          file=sys.stderr)
    attempted = rec["attempted"] + len(checks) - len(rec["checks"])
    failed = rec["failed"] + sum(1 for _, ok, _ in checks[len(rec["checks"]):] if not ok)
    for name, ok, detail in checks:
        print(f"{'ok  ' if ok else 'FAIL'} {name}: {detail}", file=sys.stderr)
    print(json.dumps({"correct": all(ok for _, ok, _ in checks) and failed == 0,
                      "attempted": attempted, "failed": failed, "metrics": rec["metrics"]}))


if __name__ == "__main__":
    main()
