#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload rest_serve --seed 1 --seconds 10 --trace 0

Builds the engine plus the bench sources once per checkout with sbt (the
classpath is cached in `.bench_build/`, keyed on a hash of the sources),
then launches the bench JVM directly. Everything the run writes (index
directories, Spark scratch, span dumps) stays under `.bench_build/`.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "sources.sha1")
WORKLOADS = ("rest_serve", "store_churn")

# The module openings spark-submit would pass on JDK 17 (the same list as
# the root build's javaOptions).
OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha1()
    tops = [os.path.join(ROOT, "src", "main"),
            os.path.join(BENCH, "src", "main"),
            os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt and cache the runtime classpath."""
    stamp = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout)
        die("build failed", 3)
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


def revision():
    """Git revision of the checkout, or the source hash outside git."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "sources-sha1:" + source_hash()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("engine sources not found next to perfbench/ (run from a full checkout)")
    cp = build()

    work = os.path.join(BUILD, "runs", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap cap keeps peak RSS steady; the metaspace floor avoids the
    # class-loading full GCs that otherwise land in set-up.
    cmd = ["java", "-Xmx1536m", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
           "-XX:MetaspaceSize=256m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--dir", work, "--spans", os.path.join(BUILD, "spans"),
            "--rev", revision()]
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=sys.stderr, text=True, timeout=170)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = [l for l in proc.stdout.splitlines() if l.strip()]
    for line in out[:-1]:
        print(line)
    if proc.returncode != 0 or not out:
        die(f"bench JVM exited with {proc.returncode}", 1)
    result = json.loads(out[-1])
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
