#!/usr/bin/env python3
"""Tests of the benchmark's own pieces.

    python3 perfbench/test_perfbench.py

The Scala checks (generator, certificate, span arithmetic) run in one JVM
through graftbench.SelfTest; the oracle comparison is tested here directly.
Run from the repository root; the first run compiles like run.py does.
"""
import os
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import oracle  # noqa: E402
import run  # noqa: E402


class ScalaSelfTest(unittest.TestCase):
    def test_selftest(self):
        jars = run.spark_jars()
        classes = run.build(jars)
        work = os.path.join(run.BUILD, "work", f"selftest-{os.getpid()}")
        try:
            fixture = os.path.join(run.ROOT, "src", "test", "resources", "fixtures",
                                   "clrs.dimacs")
            out = subprocess.run(run.java(classes, jars, work)
                                 + ["graftbench.SelfTest", fixture],
                                 cwd=run.ROOT, capture_output=True, text=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        lines = [l for l in out.stdout.splitlines() if l.startswith(("PASS", "FAIL"))]
        print("\n".join(lines))
        self.assertEqual(out.returncode, 0, out.stdout + out.stderr[-3000:])
        self.assertEqual(len(lines), 4)
        self.assertTrue(all(l.startswith("PASS") for l in lines))


class OracleCompare(unittest.TestCase):
    def setUp(self):
        self.dir = os.path.join(run.BUILD, "work", f"oracle-test-{os.getpid()}")
        os.makedirs(self.dir)
        self.con = duckdb.connect()

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.dir, ignore_errors=True)

    def write(self, df):
        q = os.path.join(self.dir, "q")
        os.makedirs(q, exist_ok=True)
        df.to_parquet(os.path.join(q, "part-0.parquet"))
        return q

    def test_equal_results_pass(self):
        q = self.write(pd.DataFrame({"b": [1.0000001, 2.0], "a": [1, 2]}))
        self.assertIsNone(oracle.mismatch(
            self.con, "SELECT 1 AS a, 1.0 :: DOUBLE AS b UNION ALL SELECT 2, 2.0 ORDER BY a", q))

    def test_different_values_fail(self):
        q = self.write(pd.DataFrame({"a": [1, 3]}))
        self.assertEqual(oracle.mismatch(
            self.con, "SELECT * FROM (VALUES (1), (2)) t(a)", q), "values differ")

    def test_missing_output_fails(self):
        self.assertEqual(oracle.mismatch(self.con, "SELECT 1 AS a",
                                         os.path.join(self.dir, "none")), "no output")


if __name__ == "__main__":
    unittest.main(verbosity=2)
