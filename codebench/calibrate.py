#!/usr/bin/env python3
"""Prints the generator's corpus shape next to that of real source files,
as a markdown table (see codebench/NOTES.md, "Corpus calibration"):

    python3 codebench/calibrate.py src [SEED]

DIR is read recursively; .scala, .rs, .py, .go, .java, .ts and .js files
count. Builds the benchmark first, like run.py.
"""
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def main(argv):
    if not 1 <= len(argv) <= 2:
        sys.exit("usage: calibrate.py DIR [SEED]")
    classes, jars = build.build()
    cmd = ["java", "-Xmx1g", "-cp", classes + os.pathsep + os.path.join(jars, "*"),
           "codebench.Calibrate"] + argv
    sys.exit(subprocess.run(cmd, timeout=300).returncode)


if __name__ == "__main__":
    main(sys.argv[1:])
