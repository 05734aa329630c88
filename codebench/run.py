#!/usr/bin/env python3
"""Runs one benchmark workload from the repository root:

    python3 codebench/run.py --workload search|dedup --seed N \
        --seconds S --trace 0|1 [--scale full|tiny]

Builds the engine and the benchmark first (codebench/build.py), then runs
the workload in one JVM. The last line of standard output is the result
JSON; the exit code is non-zero when the build fails or any correctness
check fails.
"""
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
RUN_TIMEOUT_S = 170


def main(argv):
    if len(argv) % 2 or not all(a.startswith("--") for a in argv[::2]):
        sys.exit("usage: run.py --workload W --seed N --seconds S --trace 0|1")
    classes, jars = build.build()
    out = os.path.join(build.ROOT, ".bench_out")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" +
           os.path.join(build.BENCH, "log4j2.properties"),
           "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "codebench.Main", "--work", out] + argv
    try:
        r = subprocess.run(cmd, cwd=build.ROOT, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit("codebench: run exceeded %d s" % RUN_TIMEOUT_S)
    sys.exit(r.returncode)


if __name__ == "__main__":
    main(sys.argv[1:])
