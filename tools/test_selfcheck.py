"""selfcheck.py over a tiny synthetic sfDir/outDir: one matching gate, one
value mismatch and one gate with no Spark output.
Run: python3 -m unittest discover -s tools
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

SELFCHECK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "selfcheck.py")


class SelfcheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.sf = os.path.join(self.tmp.name, "sf")
        self.out = os.path.join(self.tmp.name, "out")
        os.makedirs(self.sf)
        con = duckdb.connect()
        con.execute(f"COPY (SELECT range AS k, range * 10 AS v FROM range(4)) "
                    f"TO '{self.sf}/t.parquet' (FORMAT PARQUET)")

        def spark_output(name, sql):
            os.makedirs(f"{self.out}/{name}")
            con.execute(f"COPY ({sql}) TO '{self.out}/{name}/part-0.parquet' (FORMAT PARQUET)")

        oracle = "SELECT k, v FROM t"
        spark_output("good", "SELECT range AS k, range * 10 AS v FROM range(4)")
        spark_output("bad", "SELECT range AS k, range * 10 + (range = 2)::BIGINT AS v FROM range(4)")
        with open(f"{self.out}/oracle_sql.json", "w") as f:
            json.dump({"good": oracle, "bad": oracle, "missing": oracle}, f)

    def tearDown(self):
        self.tmp.cleanup()

    def test_record_and_exit_code(self):
        run = subprocess.run([sys.executable, SELFCHECK, self.sf, self.out],
                             capture_output=True, text=True)
        self.assertEqual(run.returncode, 1, run.stdout + run.stderr)
        self.assertIn("OK   good (4 rows)", run.stdout)
        self.assertIn("FAIL bad: value mismatch", run.stdout)
        self.assertIn("FAIL missing: no spark output", run.stdout)
        self.assertIn("2 failures / 3 oracle queries", run.stdout)

        with open(f"{self.out}/correctness.json") as f:
            text = f.read()
        record = json.loads(text)
        self.assertEqual(list(record), ["bad", "good", "missing"])
        self.assertEqual(record["good"], {
            "rows_match": True, "schema_match": True, "hash_match": True,
            "spark_rows": 4, "oracle_rows": 4, "err": None})
        self.assertEqual(record["bad"], {
            "rows_match": True, "schema_match": True, "hash_match": False,
            "spark_rows": 4, "oracle_rows": 4, "err": "value mismatch at rows [2]"})
        self.assertEqual(record["missing"], {
            "rows_match": False, "schema_match": False, "hash_match": False,
            "spark_rows": None, "oracle_rows": 4, "err": "no spark output"})
        # same layout as the committed records: two-space indent, so every
        # top-level key (and only those) starts a line with '  "'
        top = [l.split('"')[1] for l in text.splitlines() if l.startswith('  "')]
        self.assertEqual(top, ["bad", "good", "missing"])


if __name__ == "__main__":
    unittest.main()
