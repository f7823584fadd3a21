#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources together
with the benchmark's own Scala sources into ``.bench_build/classes``.

The compiler is the Scala compiler shipped in the Spark distribution's jar
directory, so the build needs no dependency resolution and writes only under
``.bench_build``. A stamp of the source tree skips the compile when nothing
changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    distribution that holds the ``spark-submit`` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("build: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    out = []
    for top in (ENGINE_SRC, BENCH_SRC):
        if not os.path.isdir(top):
            sys.exit(f"build: source directory {os.path.relpath(top, ROOT)} is missing")
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile when stale; return the runtime classpath."""
    jars = spark_jars()
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    t0 = time.time()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        sys.exit(f"build: scalac failed with code {res.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(want)
    sys.stderr.write(f"build: compiled {len(files)} sources in {time.time() - t0:.1f} s\n")
    return cp


if __name__ == "__main__":
    build()
