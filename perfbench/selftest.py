#!/usr/bin/env python3
"""Tests of the benchmark's seeded generators (graftbench.SelfTest).

    python3 perfbench/selftest.py

Builds like run.py, then runs the tests in one JVM; exits non-zero if
any fails.
"""
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def main():
    try:
        classes = build.build()[0]
    except build.BuildError as e:
        sys.exit(f"build: {e}")
    work = os.path.join(build.ROOT, ".bench_work", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [build.java(), "-XX:-UsePerfData", "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp"]
    for p in run.JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{os.path.join(build.spark_jars(), '*')}",
            "graftbench.SelfTest", work]
    try:
        rc = subprocess.run(cmd, cwd=work).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
