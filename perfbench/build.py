#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (src/main/scala) together with the benchmark
(perfbench/src) into .bench_build/classes, using the Scala compiler that
ships in Spark's jars directory, so nothing is fetched and nothing is
written outside the checkout. A stamp over the sources skips the compile
when nothing changed.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("Spark jars not found: set SPARK_HOME")


def sources():
    files = []
    for d in SOURCE_DIRS:
        top = os.path.join(ROOT, d)
        if not os.path.isdir(top):
            raise BuildError(f"missing source directory {d}: run from a full checkout")
        files += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.isdir(classes):
        return classes, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
