#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--sf <scale>]

Run from the repository root. The first run builds the repository and the
benchmark program with sbt (offline); later runs reuse the build until a
source or build file changes. Each run starts one JVM with one Spark
session; its start-up counts into the set-up time, not the timed phase.
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
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
WORKLOADS = ("medallion_full", "snapshot_dml")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the repository root."""
    out = []
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            out.append(top)
        for d, _, files in os.walk(path):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(fp):
    stamp = os.path.join(TARGET, "fingerprint.txt")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH", 3)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve from the local caches only, as the repository's own build does
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx4g "
                           f"-Dsbt.repository.config={repos}")
    print("perfbench: building with sbt", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {r.returncode})", 3)
    with open(stamp, "w") as fh:
        fh.write(fp)
    return open(cp_file).read().strip()


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def cpu_steal_s():
    """CPU time the hypervisor gave other guests, over all CPUs since boot;
    None where /proc/stat does not report it."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--sf", type=float, default=0.01, help="input scale factor (default 0.01)")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the repository's sources (build.sbt, src/main/scala) are not beside perfbench/", 2)
    files = source_files()
    fp = fingerprint(files)
    cp = build(fp)

    os.makedirs(os.path.join(WORK, "spark-local"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx4g"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'spark-warehouse')}",
        "-Dspark.ui.enabled=false",
        # deep enough that a job's call site reaches the layer frames
        "-Dspark.callstack.depth=64",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", WORK, "--sf", str(a.sf),
    ]
    t0 = time.time()
    steal0 = cpu_steal_s()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited {proc.returncode}", 5)
    try:
        result = json.loads(lines[-1])
        stamp = json.loads(lines[-2]) if len(lines) > 1 else {}
    except json.JSONDecodeError:
        fail("benchmark JVM printed no result line", 5)
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail("malformed result line", 5)
    steal1 = cpu_steal_s()
    stamp.setdefault("stamp", {}).update(
        {"git_commit": git_commit(), "source_sha256": fp, "run_wall_s": time.time() - t0,
         # time other guests took from this machine's CPUs during the run
         "cpu_steal_s": None if steal0 is None or steal1 is None else steal1 - steal0})
    print(json.dumps(stamp))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
