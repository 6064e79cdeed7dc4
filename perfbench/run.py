#!/usr/bin/env python3
"""Run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Builds the engine and the benchmark from source with sbt when the sources
changed since the last build (outputs under perfbench/target), then runs
the benchmark JVM directly with `java -cp`. Generated inputs, scratch
files and traces go to perfbench/out. The last line of standard output is
the JSON result; the exit code is non-zero when no result was produced.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
OUT = os.path.join(BENCH, "out")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "source-stamp.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def source_stamp():
    """Hash of every source the build reads, and of where it lives."""
    h = hashlib.sha256(ROOT.encode())
    roots = [ENGINE_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def recipe_stamp():
    """Hash of the benchmark's own sources: part of the input cache key."""
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(os.path.join(BENCH, "src"))):
        for n in sorted(names):
            with open(os.path.join(d, n), "rb") as fh:
                h.update(n.encode() + fh.read())
    return h.hexdigest()[:16]


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    sbt = shutil.which("sbt") or os.environ.get("SBT")
    if not sbt:
        sys.exit("perfbench: sbt not found on PATH (or set SBT)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building engine and benchmark with sbt", file=sys.stderr, flush=True)
    proc = subprocess.run([sbt, "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.exit("perfbench: build failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--smoke", action="store_true", help="small inputs, for the benchmark's own tests")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit("perfbench: engine sources not found at " + ENGINE_SRC)
    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(OUT, "tmp", "java")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-Djava.io.tmpdir=" + tmp,
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--out", OUT, "--recipe", recipe_stamp()]
    if a.smoke:
        cmd.append("--smoke")
    proc = subprocess.Popen(cmd, cwd=BENCH)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: run exceeded %d s and was stopped" % RUN_TIMEOUT_S)
    sys.exit(code)


if __name__ == "__main__":
    main()
