#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into perfbench/build/classes with the Scala
compiler that ships in Spark's jar directory, the same directory the
project's build.sbt uses as its unmanaged classpath. A stamp of every
source's hash skips the compile when nothing changed.

    python3 perfbench/build.py          # from the root of a checkout
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


def jars_dir():
    """Spark's jars: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    sys.exit("build: no Spark jars (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        sys.exit("build: no program sources at src/main/scala; run from the "
                 "root of a checkout")
    found = []
    for d in (main, os.path.join(BENCH, "src")):
        for dirpath, _, files in os.walk(d):
            found += [os.path.join(dirpath, f) for f in files
                      if f.endswith(".scala")]
    return sorted(found)


def classpath():
    return CLASSES + os.pathsep + os.path.join(jars_dir(), "*")


def build():
    """Compiles if any source changed; returns the run classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return classpath()
    jars = jars_dir()
    compiler = [j for n in ("scala-compiler", "scala-library", "scala-reflect")
                for j in glob.glob(os.path.join(jars, n + "-*.jar"))]
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(OUT, ignore_errors=True)
        sys.exit("build: compile failed")
    with open(STAMP, "w") as f:
        f.write(digest)
    return classpath()


if __name__ == "__main__":
    build()
