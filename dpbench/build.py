#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's JVM side (dpbench/scala) with the Scala compiler that ships in the
Spark distribution ($SPARK_HOME, else the one whose spark-submit is on PATH),
into .bench_build/classes.

Usage, from the repository root:  python3 dpbench/build.py

A build is skipped when the stamp (a hash of every source file) matches the
last successful build, so only the first run in a checkout pays for it.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise RuntimeError("no Spark distribution with a Scala compiler ($SPARK_HOME/jars)")


def sources():
    found = []
    for d in ("src/main/scala", "dpbench/scala"):
        base = os.path.join(ROOT, d)
        if not os.path.isdir(base):
            raise RuntimeError(f"missing source directory {d}")
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def ensure_built(log=sys.stderr):
    """Compiles when the sources changed since the last build; returns the
    classes directory."""
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return CLASSES
    os.makedirs(BUILD_DIR, exist_ok=True)
    staging = CLASSES + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", staging, "-classpath", jars, "@" + argfile]
    print(f"[build] compiling {len(files)} Scala sources", file=log, flush=True)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        print(res.stdout[-4000:], file=log)
        raise RuntimeError("scalac failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return CLASSES


if __name__ == "__main__":
    try:
        print(ensure_built())
    except RuntimeError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
