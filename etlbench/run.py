#!/usr/bin/env python3
"""ETL benchmark entry point.

Run from the root of a checkout:

    python3 etlbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: daily_increment, lanes_full. The first
call builds the engine and the benchmark from this checkout's sources with sbt
(`etlbench/build.sbt`); later calls reuse the build while the sources are
unchanged. The benchmark itself runs in one JVM (`etlbench.Main`), which
writes its inputs and outputs under `etlbench/work/` and removes them when it
ends. The last line of standard output is the JSON result.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "etlbench.stamp")
CLASSPATH = os.path.join(TARGET, "etlbench.classpath")
WORK = os.path.join(BENCH, "work")
WORKLOADS = ("daily_increment", "lanes_full")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when it runs outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the engine's sources and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    want = stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read() == want:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    print("etlbench: building with sbt", file=sys.stderr)
    try:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
            timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "etlbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(want)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Pipeline.scala")):
        fail(f"no engine sources under {ROOT}/src/main; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    build()
    with open(CLASSPATH) as fh:
        cp = fh.read()

    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # The engine's own run settings (build.sbt): the same heap limit and
    # session time zone, and the default tiered JIT with its optimizing
    # compiler. Two additions steady the timings: a fixed 2 GiB initial
    # heap, because the collection before each repetition otherwise shrinks
    # the heap and the repetition then runs through a series of young
    # collections while it regrows; and compile thresholds at a tenth, so
    # hot code reaches the optimizing compiler within the warm-up instead
    # of speeding the timed repetitions up one by one.
    cmd += ["-Xms2g", "-XX:CompileThresholdScaling=0.1",
            f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}", "-Duser.timezone=UTC",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "etlbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", WORK]
    proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(WORK, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(WORK, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-4000:])
        fail(f"benchmark JVM exited {proc.returncode} without a result")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
