#!/usr/bin/env python3
"""Build step of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with the
Scala compiler that ships in the Spark jars directory, into
.bench_build/classes. A stamp over every source file and the jar listing
makes a repeat build a no-op.

Usage: python3 perfbench/build.py      (from the root of a checkout)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    return m.group(1) if m else ""


SPARK_JARS = spark_jars()
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def sources():
    out = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath():
    """Runtime classpath: compiled classes, program resources, Spark jars."""
    return os.pathsep.join([CLASSES, RESOURCES, os.path.join(SPARK_JARS, "*")])


def build(log=sys.stderr):
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"no program sources at {os.path.relpath(PROGRAM_SRC, ROOT)}")
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"no Spark jars directory (set SPARK_HOME): {SPARK_JARS!r}")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(SPARK_JARS))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", os.path.join(SPARK_JARS, "*"), "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
