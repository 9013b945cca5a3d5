#!/usr/bin/env python3
"""Runs the benchmark's own tests (graftbench.SelfTest): the tail-percentile
rule, op and failure counting, and span self time.

    python3 perfbench/test.py

Builds the harness like run.py does (into .bench_build/) and exits with the
test program's status.
"""
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

if __name__ == "__main__":
    classes = build.build(os.path.join(os.path.dirname(HERE), ".bench_build"))
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    sys.exit(subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp,
                             "graftbench.SelfTest"]).returncode)
