#!/usr/bin/env python3
"""Benchmark entry point for the cdc-log / UpsertSink / Curation program.

    python3 perfbench/run.py --workload bootstrap|live_tail|curation \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the harness together with the
program's sources (sbt, offline) on first use or when any source changed,
then runs one workload in a fresh JVM. The JVM prints the metrics and, as
its last line, one JSON result; this script passes its output through and
exits non-zero if the JVM failed or printed no result.
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
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
CLASSPATH = os.path.join(HERE, "target", "runtime-classpath.txt")
STAMP = os.path.join(HERE, "target", "perfbench-build.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def source_stamp():
    """Digest of every input of the build: path, size and mtime."""
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src"), os.path.join(HERE, "project"), PROGRAM_SRC]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        st = os.stat(f)
        h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the build compiles against: the
    first `spark-submit` on PATH that sits in a Spark home with `jars/`."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(d.rstrip(os.sep))
        if os.path.isfile(os.path.join(d, "spark-submit")) and \
                glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    sys.exit("perfbench: SPARK_HOME is unset and no Spark installation is on PATH")


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ)
    if not env.get("SPARK_HOME"):
        env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
                   "-Dsbt.offline=true -Xmx2g")
    tmp = os.path.join(HERE, ".tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}", "writeClasspath"]
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: build timed out")
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["bootstrap", "live_tail", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        sys.exit(f"perfbench: program sources not found under {PROGRAM_SRC}")
    build()
    with open(CLASSPATH) as f:
        classpath = f.read().strip()
    tmp = os.path.join(HERE, ".tmp")
    os.makedirs(tmp, exist_ok=True)
    # few GC and JIT threads: with Spark on half the vCPUs (see Main.scala),
    # the JVM's own threads then fit in the other half
    gc = max(1, len(os.sched_getaffinity(0)) // 2)
    cmd = ["java", f"-Xmx{HEAP}", f"-XX:ParallelGCThreads={gc}", "-XX:ConcGCThreads=1",
           "-XX:CICompilerCount=2", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dperfbench.launchMs={int(time.time() * 1000)}", f"-Dperfbench.dir={HERE}",
           "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace)]
    proc = subprocess.Popen(cmd, cwd=HERE, stdout=subprocess.PIPE, text=True)
    last = ""
    deadline = time.time() + RUN_TIMEOUT_S
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line  # the result is printed by this script, last
            else:
                print(line, flush=True)
            if time.time() > deadline:
                break
        proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0 or not last:
        sys.exit(f"perfbench: run failed (exit {proc.returncode})")
    json.loads(last)
    print(last, flush=True)


if __name__ == "__main__":
    main()
