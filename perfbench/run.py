#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload lake|analytics --seed N \
        --seconds S --trace 0|1

The first run builds graft and the benchmark program from source with sbt
(perfbench/build.sbt) and caches the classpath under .perfbench/; later runs
reuse it while the sources are unchanged. Each run is a fresh JVM that
writes its inputs, tables and results under .perfbench/. The last stdout
line is one JSON object with the keys correct, attempted, failed, metrics.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("lake", "analytics")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
# Spark on JDK 17 needs these outside spark-submit (the root build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every input to the build."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
            "perfbench/project/build.properties"]
    trees = ["src/main", "perfbench/src/main"]
    paths = [os.path.join(ROOT, t) for t in tops]
    for t in trees:
        for d, _, fs in os.walk(os.path.join(ROOT, t)):
            paths += [os.path.join(d, f) for f in fs]
    for p in sorted(paths):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, stdout):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True, env=dict(os.environ))
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.wait()
        raise
    return p.returncode


def classpath():
    """Build if the sources changed since the cached build; return the
    runtime classpath."""
    os.makedirs(STATE, exist_ok=True)
    cp_file = os.path.join(STATE, "classpath.txt")
    digest = sources_digest()
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file):
            with open(cp_file) as f:
                cached = json.load(f)
            if cached.get("digest") == digest:
                return cached["classpath"]
        log("building graft and the benchmark program with sbt")
        os.environ.setdefault("COURSIER_MODE", "offline")
        out = os.path.join(STATE, "build.out")
        with open(out, "w") as f:
            rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "compile", "export Runtime/fullClasspath"],
                             HERE, BUILD_TIMEOUT_S, f)
        with open(out) as f:
            lines = [l.strip() for l in f if l.strip()]
        cp = [l for l in lines if not l.startswith("[") and os.pathsep in l]
        if rc != 0 or not cp:
            sys.stderr.write("\n".join(lines[-30:]) + "\n")
            raise SystemExit(f"build failed (sbt exit {rc})")
        with open(cp_file, "w") as f:
            json.dump({"digest": digest, "classpath": cp[-1]}, f)
        return cp[-1]


def session_cores():
    """Half the cores this process may use, at least one: the JVM's and the
    Spark session's parallelism. A guest that keeps every one of its cores
    busy draws CPU steal from a shared host, and its timings then follow
    the neighbours' load; at half the cores the host's share holds."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no graft sources next to {HERE}: run from a graft checkout")
        return 2

    cp = classpath()
    work = os.path.join(STATE, "run")
    results = os.path.join(STATE, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    result = os.path.join(results, f"{tag}.result.json")
    if os.path.exists(result):
        os.remove(result)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cores = session_cores()
    cmd = [java] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xms3g", "-Xmx3g", f"-XX:ActiveProcessorCount={cores}",
        "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(cores), "--work", work, "--results", results,
        "--fingerprints", os.path.join(HERE, "fingerprints.json")]
    try:
        rc = run_bounded(cmd, ROOT, RUN_TIMEOUT_S, sys.stderr)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        log(f"run failed (exit {rc})")
        return 1
    with open(result) as f:
        out = json.load(f)
    print(json.dumps(out, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
