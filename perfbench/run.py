#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload kg --seed 1 --seconds 16 --trace 0

Builds the program and the benchmark from source (perfbench/build.py,
cached under .bench_build/), then runs one measurement in one JVM holding a
local[n] Spark session and prints its result as the last line of standard
output: {"correct", "attempted", "failed", "metrics"}. Workloads, metrics
and checks are described in perfbench/README.md.

Everything the run writes stays under .bench_build/ in the checkout; its
per-run work directory is deleted when the run ends.
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
sys.path.insert(0, HERE)
import build  # noqa: E402

RUN_LIMIT_S = 170          # a run must end within 180 s
FIRST_RUN_LIMIT_S = 880    # ... or 900 s when it has to compile first
MAIN_CLASS = "graft.perfbench.PerfBench"

# Spark 4 on JDK 17 needs these outside spark-submit (the same list the
# repository's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    if a.seconds < 1:
        p.error("--seconds must be >= 1")
    return a


def java_env(work):
    """The JVM's environment: Spark's scratch space inside `work`."""
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def java_cmd(classes, jars, work, main_class, main_args):
    """The JVM command for one benchmark main; `work` (created fresh here)
    holds everything the JVM writes."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xss8m",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dlog4j2.configurationFile=" +
           os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
                  main_class, "--work", work] + main_args


def main():
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args()
    t0 = time.monotonic()
    try:
        classes, jars = build.ensure_built()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    built_now = time.monotonic() - t0 > 5
    limit = (FIRST_RUN_LIMIT_S if built_now else RUN_LIMIT_S) - \
        (time.monotonic() - t0)

    work = os.path.join(build.OUT, "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    spans_dir = os.path.join(build.OUT, "spans")
    os.makedirs(spans_dir, exist_ok=True)
    cmd = java_cmd(classes, jars, work, MAIN_CLASS, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--spans", spans_dir,
        "--digests", os.path.join(HERE, "digests.json")])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            env=java_env(work), start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, limit))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("perfbench: run exceeded its time limit, killed",
              file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    sys.stderr.write("".join(ln + "\n" for ln in lines[:-1]))
    if proc.returncode != 0 or not isinstance(result, dict):
        print(f"perfbench: measurement exited with {proc.returncode} "
              "and no result", file=sys.stderr)
        return proc.returncode or 4
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
