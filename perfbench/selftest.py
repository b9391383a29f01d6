#!/usr/bin/env python3
"""Tests of the benchmark's own code: builds like run.py does, then runs
perfbench.SelfTest (generator determinism, the malformed-game count, the
Zipf draw, percentile helpers, span self times) and the Python oracle
canonicaliser test. Run from the repository root:

    python3 perfbench/selftest.py
"""
import os
import subprocess
import sys

import pandas as pd

import run
import oracle


def test_canon_orders_columns_rows_and_rounds():
    a = pd.DataFrame({"b": [2.0000001, 1.0], "a": ["y", "x"]})
    b = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0]})
    assert oracle.digest(oracle.canon(a)) == oracle.digest(oracle.canon(b))


def main():
    classes = run.build()
    scratch = os.path.join(run.BUILD, "selftest")
    os.makedirs(scratch, exist_ok=True)
    r = subprocess.run(["java", run.NO_PERF_DATA] + run.OPENS + [
        "-cp", f"{classes}:{run.SPARK_JARS}/*", "perfbench.SelfTest", scratch])
    failed = r.returncode != 0
    try:
        test_canon_orders_columns_rows_and_rounds()
        print("ok   oracle canonical form ignores column order, row order and 1e-7 noise")
    except AssertionError:
        failed = True
        print("FAIL oracle canonical form")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
