#!/usr/bin/env python3
"""Lifecycle benchmark of the catalog pipeline.

    python3 lifebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 lifebench/run.py --selftest

Builds the program and the benchmark from source (lifebench/build.py),
then runs one workload in one JVM on local[N], N = SPARK_GRAFT_CPUS
(set here to the number of usable cores when the caller left it unset).
The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Everything the run writes stays under .bench_work/ (removed at the end)
and .bench_out/ (result and span files) at the repository root.
Workloads, metrics and layers are described in lifebench/NOTES.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("crawl_lifecycle", "daily_reingest", "corpus_admission")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these opens (the same list
# the project's build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10
                              ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java_cmd(classes, main, args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *opens,
             f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
             "-Dspark.ui.enabled=false", "-cp", cp, main] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        print("[lifebench] program sources (src/main/scala) not found next to "
              "the benchmark; run from a full checkout", file=sys.stderr)
        return 3

    classes = build.build(test=a.selftest)
    work = os.path.join(ROOT, ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2" if a.selftest else cpus,
               SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    if a.selftest:
        cmd = java_cmd(classes, "lifebench.SelfTest", [os.path.join(work, "selftest")], tmp)
    else:
        cmd = java_cmd(classes, "lifebench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(work, "run"),
            "--out", os.path.join(ROOT, ".bench_out"),
            "--commit", commit(), "--t0-ms", str(int(time.time() * 1000))], tmp)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env, cwd=ROOT)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[lifebench] run exceeded {RUN_TIMEOUT_S} s; killed", file=sys.stderr)
        return 4
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    if proc.returncode != 0:
        return proc.returncode
    if a.selftest:
        return 0
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        ok = set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError):
        ok = False
    if not ok:
        print("[lifebench] the run printed no result line", file=sys.stderr)
        return 5
    return 0


if __name__ == "__main__":
    sys.exit(main())
