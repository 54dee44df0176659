#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine (`src/main/scala`) together with the benchmark
(`perfbench/src`) into `.bench_build/perfbench/classes`, with the Scala
compiler that ships among Spark's jars, so the build needs neither sbt nor
network access and writes only inside the checkout. The compile is skipped
when no source changed since the last one.

    python3 perfbench/build.py      # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the `jars` directory
    beside the first `bin/spark-submit` on PATH that has one."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars) and any(
                n.startswith("scala-compiler") for n in os.listdir(jars)):
            return jars
    raise RuntimeError("no Spark installation with a scala-compiler jar (set SPARK_HOME)")


def sources():
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise RuntimeError(f"missing source directory {os.path.relpath(d, ROOT)}")
    found = sorted(os.path.join(dp, f) for d in SOURCE_DIRS
                   for dp, _, fs in os.walk(d) for f in fs if f.endswith(".scala"))
    if not any(p.startswith(SOURCE_DIRS[0]) for p in found):
        raise RuntimeError("no engine sources under src/main/scala")
    return found


def build():
    """Return the classes directory, compiling first if needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", tmp, "-nowarn"] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=800)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("compile failed:\n" + res.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except Exception as e:  # noqa: BLE001 - report any build failure
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
