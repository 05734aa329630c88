#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources and the
benchmark's own sources with the Scala compiler that ships among the Spark
jars, into .bench_build/ at the repository root.

A build is keyed by a hash of every source file, so an unchanged tree is
compiled once. Run it directly to build ahead of a run:

    python3 codebench/build.py
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


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the one the root
    build.sbt compiles against (its unmanagedBase)."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise SystemExit("codebench: no Spark jars (set SPARK_HOME)")


def sources():
    srcs = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(BENCH, "src", "main", "scala")):
        srcs += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(srcs)


def build():
    """Returns the class directory, compiling it first if needed."""
    srcs = sources()
    engine = [s for s in srcs if not s.startswith(BENCH + os.sep)]
    if not engine:
        raise SystemExit("codebench: engine sources not found under src/main/scala")
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(ROOT, ".bench_build", "codebench-" + h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes, jars
    tmp = out + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", os.path.join(tmp, "classes"), "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("codebench: compile failed")
    open(os.path.join(tmp, "ok"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return classes, jars


if __name__ == "__main__":
    print(build()[0])
