#!/usr/bin/env python3
"""Run the benchmark's own tests (perfbench/src/perfbench/SelfTest.scala).

    python3 perfbench/selftest.py

Run from the repository root. Covers input determinism per seed, the
percentile helper, self-time arithmetic on nested and overlapping spans,
BENCHMARK.json against the metrics the runs print, and the lifecycle
model against the engine on a tiny table.
"""
import shutil
import sys

import run as launcher


def main():
    classes = launcher.build()
    work = launcher.BUILD / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        rc = launcher.java(classes, ["selftest", "--work", str(work), "--benchmark-json",
                                     str(launcher.ROOT / "BENCHMARK.json")], work, 600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        launcher.fail(f"self-tests failed (exit {rc})", code=1)


if __name__ == "__main__":
    sys.exit(main())
