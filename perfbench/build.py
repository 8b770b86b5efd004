#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the benchmark harness (perfbench/harness)
into .bench_build/classes with the Scala compiler that ships in Spark's
jars directory. No sbt is involved, so nothing but the compiler runs
before the measured JVM.

Usage (from the repository root): python3 perfbench/build.py

A stamp of every source file's content skips the compile when nothing
changed. Importable: `classpath()` builds if needed and returns the
classpath of the measured JVM.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SCALA_VERSION = "2.13.17"


def spark_jars():
    """$SPARK_HOME/jars, else the `unmanagedBase` build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        sbt = open("build.sbt").read() if os.path.isfile("build.sbt") else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        jars = m.group(1) if m else "jars"
    if not os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA_VERSION}.jar")):
        raise SystemExit(f"build: no Scala {SCALA_VERSION} compiler under "
                         f"'{jars}' (set SPARK_HOME)")
    return jars


def sources():
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        raise SystemExit("build: no engine sources under src/main/scala;"
                         " run from the repository root")
    here = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
    return srcs + sorted(glob.glob(f"{here}/harness/**/*.scala", recursive=True))


def stamp(srcs):
    h = hashlib.sha256(SCALA_VERSION.encode())
    for p in srcs:
        h.update(p.encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    jars = spark_jars()
    srcs = sources()
    want = stamp(srcs)
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return classes
    tmp = os.path.join(BUILD_DIR, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                        for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes


def classpath():
    return build() + ":" + os.path.join(spark_jars(), "*")


if __name__ == "__main__":
    print(build())
