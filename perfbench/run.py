#!/usr/bin/env python3
"""Run one benchmark workload of graft and print its result.

    python3 perfbench/run.py --workload <graph_analytics|cypher_wire> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft's sources
together with the harness in perfbench/src (sbt, offline, against the
jars of $SPARK_HOME); later runs reuse the build while no source changed.
The harness then runs in one JVM on local[4]; its last stdout line is
the result object {"correct", "attempted", "failed", "metrics"}.
Build outputs stay under perfbench/target, run files under .bench_build.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("graph_analytics", "cypher_wire")
DEADLINE_S = 170  # a run must end within 180 s
BUILD_DEADLINE_S = 850

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
    sys.exit(2)


def source_stamp():
    """Hash of every file the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The jars directory of the Spark distribution graft builds against."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        fail("set SPARK_HOME to the Spark 4.1 distribution")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars}")
    return jars


def build(work):
    """Compile once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(work, "build.stamp")
    cp_file = os.path.join(work, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=dict(os.environ, SPARK_JARS=spark_jars()),
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_DEADLINE_S)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    cps = [l.strip() for l in lines if l.strip().startswith(classes)]
    if not cps:
        fail("build printed no classpath")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    started = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not in this checkout")
    work = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if not os.path.isabs(work):
        work = os.path.join(ROOT, work)
    work = os.path.join(work, "perfbench")
    os.makedirs(work, exist_ok=True)
    cp = build(work)
    started = time.time()  # the run's own deadline starts after the build

    run_dir = os.path.join(work, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", run_dir]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run exceeded its deadline")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.splitlines()
    for l in lines[:-1]:
        print(l)
    if proc.returncode != 0 or not lines:
        fail(f"harness exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("harness printed no result")
    print(lines[-1])
    sys.exit(0)


if __name__ == "__main__":
    main()
