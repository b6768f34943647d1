#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark's own Scala sources into .bench_build/classes with the Scala
compiler that ships in Spark's jars directory. No sbt, no dependency
resolution: the classpath is exactly Spark's jars.

    python3 perfbench/build.py   # build if the sources or Spark's jars changed

Run from the root of the checkout. Exits non-zero when the library sources
or Spark are missing.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.sha256")
SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "scala")]


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        sys.exit("perfbench build: Spark not found (set SPARK_HOME)")
    return jars


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"perfbench build: missing source directory {d}")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def ensure():
    """Compile unless the classes were built from identical sources against
    the same Spark jars."""
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    for jar in sorted(os.listdir(spark_jars())):
        digest.update(jar.encode())
    want = digest.hexdigest()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == want:
                return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    if os.path.exists(STAMP):
        os.remove(STAMP)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES, "-classpath", jars] + srcs
    print(f"perfbench build: compiling {len(srcs)} files", file=sys.stderr)
    proc = subprocess.run(cmd, stdout=sys.stderr)
    if proc.returncode != 0:
        sys.exit(f"perfbench build: scalac failed ({proc.returncode})")
    with open(STAMP, "w") as f:
        f.write(want)


if __name__ == "__main__":
    ensure()
