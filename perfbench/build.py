#!/usr/bin/env python3
"""Compile the engine (src/main) and the benchmark (perfbench/src) into
.bench_build/perfbench/classes with the Scala compiler that ships with
Spark. A stamp over every source skips the compile when nothing changed.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        sys.exit("build: no Spark install (set SPARK_HOME)")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"build: no Spark jars with a Scala compiler under {jars}")
    return os.path.join(jars, "*")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"build: engine sources not found at {ENGINE_SRC}")
    files = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(OUT, "stamp")
    cp = os.pathsep.join([CLASSES, RESOURCES, jars])
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", CLASSES, "-classpath", jars, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


if __name__ == "__main__":
    print(build())
