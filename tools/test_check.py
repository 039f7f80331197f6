#!/usr/bin/env python3
"""Tests for tools/check.py, the DuckDB correctness gate: a matching
dump passes, a value mismatch fails, and an oracle-checked query without
a dump fails as MISSING.

Usage: python3 -m unittest tools/test_check.py  (needs duckdb + pandas)
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

CHECK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "check.py")


class CheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.sf = os.path.join(self.tmp.name, "sf")
        self.out = os.path.join(self.tmp.name, "out")
        os.makedirs(self.sf)
        os.makedirs(self.out)
        self.con = duckdb.connect()
        self.con.execute(
            "COPY (SELECT range AS k, range * 10 AS v FROM range(5)) "
            f"TO '{self.sf}/t.parquet' (FORMAT PARQUET)")

    def tearDown(self):
        self.con.close()
        self.tmp.cleanup()

    def dump(self, name, sql):
        os.makedirs(os.path.join(self.out, name))
        self.con.execute(
            f"COPY ({sql}) TO '{self.out}/{name}/part-0.parquet' (FORMAT PARQUET)")

    def check(self, oracle):
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump(oracle, f)
        p = subprocess.run([sys.executable, CHECK, self.sf, self.out],
                           capture_output=True, text=True)
        lines = {l.split()[1]: l for l in p.stdout.splitlines() if l.strip()}
        return p.returncode, lines

    def test_pass(self):
        # row and column order do not matter
        self.dump("q_rows", "SELECT range * 10 AS v, range AS k FROM range(5) "
                            "ORDER BY k DESC")
        code, lines = self.check({"q_rows": "SELECT k, v FROM t"})
        self.assertEqual(code, 0, lines)
        self.assertTrue(lines["q_rows"].startswith("PASS"), lines)

    def test_value_mismatch(self):
        self.dump("q_rows", "SELECT range AS k, range * 10 + (range = 3)::BIGINT "
                            "AS v FROM range(5)")
        code, lines = self.check({"q_rows": "SELECT k, v FROM t"})
        self.assertEqual(code, 1)
        self.assertTrue(lines["q_rows"].startswith("FAIL"), lines)
        self.assertIn("VALUE_MISMATCH 1 cells", lines["q_rows"])

    def test_missing_dump(self):
        self.dump("q_rows", "SELECT range AS k, range * 10 AS v FROM range(5)")
        code, lines = self.check({"q_rows": "SELECT k, v FROM t",
                                  "q_threw": "SELECT k FROM t"})
        self.assertEqual(code, 1)
        self.assertTrue(lines["q_rows"].startswith("PASS"), lines)
        self.assertTrue(lines["q_threw"].startswith("FAIL"), lines)
        self.assertIn("MISSING", lines["q_threw"])


if __name__ == "__main__":
    unittest.main()
