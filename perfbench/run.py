#!/usr/bin/env python3
"""Runs one benchmark workload in a fresh JVM and prints its result.

Usage (from the repository root):
  python3 perfbench/run.py --workload <warehouse_daily|query_suite>
                           --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --make-goldens   (rewrites perfbench/goldens.txt)

The last line of stdout is one JSON object: correct, attempted, failed and
the metrics (end-to-end with --trace 0, per-layer with --trace 1). The first
run in a checkout compiles the engine and the benchmark (see build.py).

The query workload warms up over the engine's sf0.01 test tables and times
its pass over the sf0.1 ones. It finds them under the directory named by
PERFBENCH_TESTDATA, or else at the location the repository's TESTDATA.md
documents.

The JVM gets the heap and code-cache settings the engine runs with:
-Xmx from SPARK_DRIVER_MEM, as in build.sbt (unset: half the host's memory,
2g to 8g, as the repo's test recipe sets it), and build.sbt's 1g code cache.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("warehouse_daily", "query_suite")
JVM_TIMEOUT_S = 170

sys.path.insert(0, HERE)
import build  # noqa: E402


def testdata_root():
    root = os.environ.get("PERFBENCH_TESTDATA")
    if not root:
        doc = os.path.join(ROOT, "TESTDATA.md")
        m = re.search(r"`([^`]+)/sf0\.01/`", open(doc).read()) if os.path.isfile(doc) else None
        root = m.group(1) if m else ""
    for sf in ("sf0.01", "sf0.1"):
        if not os.path.isdir(os.path.join(root, sf)):
            sys.exit(f"perfbench: test tables {sf} not found (set PERFBENCH_TESTDATA)")
    return root


def default_heap():
    """Half the host's memory, 2g to 8g: the SPARK_DRIVER_MEM the repo's
    test recipe (ROADMAP.md) passes. build.sbt's own default, 32g, is more
    than many hosts have."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{min(8, max(2, kb // 2097152))}g"


def jvm_flags(work):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    flags = []
    for p in opens:
        flags += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = os.environ.get("SPARK_DRIVER_MEM") or default_heap()
    return flags + [f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
                    "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
                    "-Dspark.ui.enabled=false"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-goldens", action="store_true")
    a = ap.parse_args()
    if not a.make_goldens and not a.workload:
        ap.error("--workload is required")

    cp = build.build()
    work = os.path.join(HERE, ".work", a.workload or "goldens")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = max(1, min(4, os.cpu_count() or 1))
    cmd = ["java"] + jvm_flags(work) + ["-cp", cp, "perfbench.Main",
           "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", os.path.join(work, "run"),
           "--cores", str(cores), "--goldens", os.path.join(HERE, "goldens.txt")]
    cmd += ["--make-goldens"] if a.make_goldens else ["--workload", a.workload]
    if a.make_goldens or a.workload == "query_suite":
        td = testdata_root()
        cmd += ["--sf-warm", os.path.join(td, "sf0.01"),
                "--sf-timed", os.path.join(td, "sf0.1")]
    if a.make_goldens:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=subprocess.DEVNULL)
        sys.exit(r.returncode)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log,
                               text=True, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s")
    with open(log_path) as log:
        for line in log:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(open(log_path).read()[-4000:])
        sys.exit(f"perfbench: JVM exited with {r.returncode}")
    result = json.loads(lines[-1])
    # keep the span record of traced runs; drop lakes and warehouses
    traces = os.path.join(HERE, ".work", "traces")
    os.makedirs(traces, exist_ok=True)
    for f in os.listdir(os.path.join(work, "run")):
        if f.startswith("trace-"):
            shutil.move(os.path.join(work, "run", f), os.path.join(traces, f))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
