#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload sentiment|curation \
        --seed N --seconds S --trace 0|1

The first run builds graft and the benchmark with sbt (offline) and keeps
the runtime classpath in perfbench/target; later runs start the JVM
directly. The last line of stdout is one JSON object: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.
"""

import argparse
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CLASSPATH = os.path.join(BENCH, "target", "bench.classpath")
WORKLOADS = ("sentiment", "curation")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# What spark-submit adds for Spark 4 on JDK 17 (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it; on timeout the
    whole group is killed and reaped."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout} s: {cmd[0]}")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
               os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "src")]
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_mtime(sources):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g")
    code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                     BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=sys.stderr)
    if code != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {code})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources at {ROOT}: run from the root of a graft checkout")
    build()
    with open(CLASSPATH) as f:
        classpath = f.read().strip()

    work = os.path.join(BENCH, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores), "--work", work,
    ]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        code = run_group(cmd, RUN_TIMEOUT_S, cwd=work, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail(f"benchmark exited with {code}")


if __name__ == "__main__":
    main()
