#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds the
program from source together with the benchmark harness (an sbt project in
this directory), later runs reuse that build while the sources are unchanged.
The harness runs in one JVM on `local[nproc]` inside a scratch directory under
`.bench_build/`, which is removed afterwards. Its last stdout line is the
result object; the lines before it are a human-readable report.

Workloads, metrics and their meaning are described in perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest_mixed", "analytics_suite")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# Matches the program's own build (build.sbt): Spark 4 on JDK 17 needs these
# when a SparkSession is created outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """The Spark jar directory the program's build compiles against."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    cands = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in cands:
        if os.path.isdir(c):
            return c
    fail("no Spark jar directory: build.sbt names none that exists and SPARK_HOME is unset")


def source_stamp(root):
    h = hashlib.sha1()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, jars):
    """Compile program + harness once per source state; returns the classpath."""
    out = os.path.join(HERE, "target")
    tmp = os.path.join(root, ".bench_build", "tmp")
    os.makedirs(out, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    stamp_file = os.path.join(out, "perfbench.classpath")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp(root)
        if os.path.exists(stamp_file):
            with open(stamp_file) as f:
                old = f.read().split("\n", 1)
            if len(old) == 2 and old[0] == stamp:
                return old[1].strip()
        env = dict(os.environ, PERFBENCH_SPARK_JARS=jars, COURSIER_MODE="offline")
        t0 = time.time()
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
                 "-Djava.io.tmpdir=" + tmp, "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out", 3)
        classes = os.path.join(out, "scala-2.13", "classes")
        cp = [ln.strip() for ln in p.stdout.splitlines() if ln.startswith(classes + os.pathsep)]
        if p.returncode != 0 or not cp:
            sys.stderr.write(p.stdout[-4000:])
            fail("build failed", 3)
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
        with open(stamp_file, "w") as f:
            f.write(stamp + "\n" + cp[-1])
        return cp[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="analytics_suite: rewrite perfbench/fingerprints.tsv from this build")
    ap.add_argument("--capacity", action="store_true",
                    help="ingest_mixed: measure the read mix's closed-loop capacity instead")
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout: build.sbt and src/main/scala/graft not found")
    jars = spark_jars(root)
    cp = build(root, jars)

    run_dir = os.path.join(root, ".bench_build", f"run-{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    log_path = os.path.join(out_dir, f"{a.workload}-trace{a.trace}.log")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--out", out_dir,
              "--fingerprints", os.path.join(HERE, "fingerprints.tsv")]
           + (["--record", "1"] if a.record_fingerprints else [])
           + (["--capacity", "1"] if a.capacity else []))
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log,
                                 text=True, start_new_session=True)

            def stop(*_):
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()

            # a stopped benchmark stops the JVM it started
            signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
            try:
                stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                stop()
                fail(f"run timed out after {RUN_TIMEOUT_S} s (log: {log_path})", 4)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {p.returncode} (log: {log_path})", 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("harness printed a malformed result", 5)
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
