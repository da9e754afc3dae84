#!/usr/bin/env python3
"""Medallion pipeline benchmark.

Runs whole YAML-driven pipelines (bronze -> silver -> curation -> gold ->
quality -> lineage) through graft.Pipeline.run over testdata slices kept
under perfbench/data and seeded generated taxi trips, checks every run's
output, and prints the metrics. Run it from the
root of the repository:

    python3 perfbench/run.py --workload events_quality --seed 1 --seconds 20 --trace 0

The first run compiles the program and the benchmark into .bench_build/.
Progress lines come first; the last line of standard output is one JSON
object with the keys correct, attempted, failed and metrics. --trace 1
alternates untraced and span-instrumented runs and reports the per-layer
metrics instead of the end-to-end ones. --smoke uses tiny inputs (seconds per run).
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("events_quality", "docs_curation", "taxi_incremental")
# a run must end within this many seconds of its start, build excluded
RUN_LIMIT_S = 170

# the JVM options build.sbt gives forked runs
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def jvm_options(repo):
    tmp = os.path.join(repo, build.BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    return opts + [
        "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "3g"),
        "-XX:ReservedCodeCacheSize=1g",
        # JIT-compile after a tenth of the usual invocation counts: a
        # pipeline run is some 70 Spark jobs of driver-side planning, and at
        # the default thresholds run times fall for over a minute of runs
        "-XX:CompileThresholdScaling=0.1",
        # no hsperfdata file under the system /tmp: write only in the checkout
        "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
    ]


def cpu_steal():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is absent.
    Steal is time the host ran something else while this machine's CPUs
    had work; it stretches every wall time the benchmark reports."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks[:8])
    except (OSError, ValueError, IndexError):
        return None


def cpu_count():
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    args = ap.parse_args()

    repo = os.getcwd()
    try:
        classpath = build.build(repo)
    except build.BuildError as e:
        print(f"[bench] build failed: {e}", file=sys.stderr)
        return 2

    start = time.monotonic()
    work = os.path.join(repo, build.BUILD_DIR, "work", args.workload)
    cmd = ["java", *jvm_options(repo), "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--data", os.path.join(build.HERE, "data"), "--cpus", str(cpu_count())]
    if args.smoke:
        cmd += ["--smoke", "1"]
    steal_before = cpu_steal()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    result = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                result = line
            else:
                print(line, flush=True)
            if time.monotonic() - start > RUN_LIMIT_S:
                break
        proc.wait(timeout=max(1.0, RUN_LIMIT_S - (time.monotonic() - start)))
    except subprocess.TimeoutExpired:
        pass
    finally:
        timed_out = proc.poll() is None
        if timed_out:
            proc.kill()
            proc.wait()
    if timed_out:
        print(f"[bench] stopped after {RUN_LIMIT_S} s", file=sys.stderr)
        return 3
    if proc.returncode != 0 or result is None:
        print(f"[bench] benchmark exited with {proc.returncode} and no result", file=sys.stderr)
        return proc.returncode or 4
    steal_after = cpu_steal()
    if steal_before and steal_after and steal_after[1] > steal_before[1]:
        share = (steal_after[0] - steal_before[0]) / (steal_after[1] - steal_before[1])
        print(f"[bench] cpu steal during the run: {100 * share:.1f}% of cpu time")
    parsed = json.loads(result)
    print(json.dumps(parsed))
    return 0


if __name__ == "__main__":
    sys.exit(main())
