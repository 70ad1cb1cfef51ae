#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the library and the benchmark runner when the
sources changed (perfbench/build.py), then runs one workload in one JVM
(Spark local[4]) and relays its result: the last line of standard output
is one JSON object with the keys correct, attempted, failed and metrics.
Exits non-zero when the build fails, the run fails, or a check fails.
Workloads and metrics are described in perfbench/WORKLOADS.md.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("nrt_refresh", "historic_backfill", "curation_dedup")
RUN_TIMEOUT_S = 170
WORK_DIR = ".bench_work"

# Spark 4 on JDK 17 needs these when a SparkSession is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        raise SystemExit("perfbench: --seconds must be >= 1")

    build.build(quiet=True)

    run_dir = os.path.abspath(os.path.join(WORK_DIR, f"run-{os.getpid()}"))
    log_dir = os.path.join(WORK_DIR, "logs")
    trace_dir = os.path.abspath(os.path.join(WORK_DIR, "traces"))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(log_dir, exist_ok=True)
    os.makedirs(trace_dir, exist_ok=True)
    log_path = os.path.join(
        log_dir, f"{args.workload}-{args.seed}-trace{args.trace}.log")

    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # -Xms = -Xmx: a heap that starts at full size, so operation times do
    # not drift down while the collector grows it; MetaspaceSize: no full
    # collections each time the classes Spark generates per query pass a
    # metaspace threshold; -XX:-UsePerfData: no hsperfdata file outside
    # the checkout
    cmd += ["-Xms3g", "-Xmx3g", "-XX:MetaspaceSize=512m", "-XX:+UseParallelGC",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", build.classpath(),
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", run_dir, "--trace-dir", trace_dir]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            out = ""
            log.write(f"\nperfbench: run exceeded {RUN_TIMEOUT_S} s, killed\n")
    shutil.rmtree(run_dir, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        with open(log_path) as fh:
            tail = fh.readlines()[-40:]
        sys.stderr.write("".join(tail))
        for l in lines:
            sys.stderr.write(l + "\n")
        sys.stderr.write(f"perfbench: run failed (exit {proc.returncode}), "
                         f"log: {log_path}\n")
        # a run whose checks failed still prints its result line
        if lines and lines[-1].startswith("{"):
            print(lines[-1])
        sys.exit(proc.returncode or 1)
    for l in lines[:-1]:
        sys.stderr.write(l + "\n")
    print(lines[-1])


if __name__ == "__main__":
    main()
