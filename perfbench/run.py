#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the library and the
harness from source with sbt (perfbench/build.sbt) and records the runtime
classpath under .bench_build/; later calls reuse it. The harness JVM prints
a human-readable table, then the result object as the last stdout line.
Exits non-zero without a result line when the build or the run fails.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


CHILDREN = []


def stop_children(signum, _frame):
    """Kills every process group this launcher started, then exits."""
    for p in CHILDREN:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_checked(cmd, cwd, log, timeout):
    """Runs cmd to completion (its whole process group on timeout)."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        CHILDREN.append(p)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -1


def build():
    if os.path.exists(CLASSPATH):
        return
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no library sources next to perfbench/ (run from the root of a full checkout)")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    tmp = CLASSPATH + ".tmp"
    rc = run_checked(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                      "compile", f"export Runtime/fullClasspath"], BENCH, log, 840)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    lines = [l.strip() for l in open(log) if l.strip() and not l.startswith("[")]
    cps = [l for l in lines if "perfbench" in l and os.pathsep in l]
    if not cps:
        fail(f"build printed no classpath; log in {log}")
    with open(tmp, "w") as f:
        f.write(cps[-1])
    os.replace(tmp, CLASSPATH)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    if not os.path.isfile(os.path.join(BENCH, "workloads.json")):
        fail("perfbench/workloads.json not found (run from the checkout root)")
    build()
    t0_ms = int(time.time() * 1000)
    cp = open(CLASSPATH).read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmpdir = os.path.join(BUILD, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    cpus = str(os.cpu_count() or 1)
    if hasattr(os, "sched_getaffinity"):
        cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, PERFBENCH_T0_MS=str(t0_ms))
    # the harness keeps Spark's scratch space inside the checkout
    for k in ("SPARK_GRAFT_MASTER", "SPARK_LOCAL_DIRS", "LOCAL_DIRS"):
        env.pop(k, None)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--config", os.path.join(BENCH, "workloads.json"),
            "--out", os.path.join(BUILD, "results")]
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                         text=True, start_new_session=True)
    CHILDREN.append(p)
    last = None
    try:
        out, _ = p.communicate(timeout=170)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("run exceeded 170 s")
    for line in out.splitlines():
        if line.strip():
            last = line
    if p.returncode != 0 or last is None or not last.startswith("{"):
        sys.stdout.write(out if p.returncode == 0 else "")
        fail(f"harness exited {p.returncode} without a result")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
