#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`erbench/src`) into
one class directory, with the Scala compiler that ships in the Spark
distribution ($SPARK_HOME, or the one whose spark-submit is on the PATH).
sbt is not needed, and nothing is written outside the output directory.

Usage: python3 erbench/build.py [OUT_DIR]
OUT_DIR defaults to $CARGO_TARGET_DIR or `.bench_build`, relative to the
repository root. The build is skipped when the sources are unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """Classpath glob of the Spark distribution: $SPARK_HOME, else the first
    directory on the PATH holding `spark-submit` inside a distribution."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    raise SystemExit("build: no Spark distribution with a Scala compiler; set SPARK_HOME")


def out_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        raise SystemExit(f"build: program sources not found at {program}")
    files = []
    for d in (program, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(out=None):
    """Compile if needed; returns the class directory."""
    out = out or out_dir()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    classes = os.path.join(out, "erbench-classes")
    stamp = os.path.join(classes, "SOURCES.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = spark_jars()
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Xmx2g", "-Xss16m",
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(os.path.join(tmp, "SOURCES.sha256"), "w") as fh:
        fh.write(digest)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else None))
