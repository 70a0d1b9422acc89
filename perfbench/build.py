#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/classes with the Scala compiler that ships in the Spark
distribution ($SPARK_HOME/jars). No dependency resolution, no network, no
sbt server.

Run from the repository root:  python3 perfbench/build.py
Exits non-zero when the program's sources are absent or do not compile.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else next to the
    spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    return os.path.join(home, "jars") if home else None


SPARK_JARS = spark_jars()
BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
PROGRAM_SRC = "src/main/scala"
BENCH_SRC = "perfbench/src"


def sources():
    files = []
    for root in (PROGRAM_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log=sys.stderr):
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "SparkEntry.scala")):
        print(f"build: program sources not found under {PROGRAM_SRC}", file=log)
        return 2
    if not SPARK_JARS or not os.path.isdir(SPARK_JARS):
        print("build: no Spark distribution (set SPARK_HOME)", file=log)
        return 2
    files = sources()
    want = digest(files)
    if os.path.isfile(STAMP) and open(STAMP).read() == want:
        return 0
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES, exist_ok=True)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", CLASSES, f"@{argfile}"]
    print(f"build: compiling {len(files)} sources", file=log)
    rc = subprocess.run(cmd, stdout=log, stderr=log).returncode
    if rc != 0:
        print(f"build: scalac failed with code {rc}", file=log)
        return rc
    with open(STAMP, "w") as fh:
        fh.write(want)
    return 0


if __name__ == "__main__":
    sys.exit(build())
