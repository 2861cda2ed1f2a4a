"""Tests for the benchmark's output check (run.check_outputs, which runs
the project's differential compare, scripts/compare.py).

    python3 -m unittest discover -s perfbench -p 'test_*.py'

A result equal to its DuckDB oracle passes; a perturbed copy of it (one
value changed, one row dropped, two rows swapped, a float nudged in its
last place) or a missing result is caught.
"""
import json
import os
import tempfile
import unittest

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import run

SQL = "SELECT k, v, s FROM t WHERE k < 4 ORDER BY k"


class OutputCheckTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        root = self.dir.name
        self.input = os.path.join(root, "input")
        self.check = os.path.join(root, "check")
        os.makedirs(self.input)
        os.makedirs(self.check)
        pq.write_table(pa.table({"k": [3, 1, 2, 5, 0], "v": [0.3, 0.1, 0.2, 0.5, 0.7],
                                 "s": ["c", "a", "b", "e", None]}),
                       os.path.join(self.input, "t.parquet"))
        with open(os.path.join(self.check, "oracle_sql.json"), "w") as f:
            json.dump({"q": SQL}, f)
        self.good = pd.DataFrame({"k": [0, 1, 2, 3], "v": [0.7, 0.1, 0.2, 0.3],
                                  "s": [None, "a", "b", "c"]})

    def tearDown(self):
        self.dir.cleanup()

    def result(self, df):
        out = os.path.join(self.check, "q")
        os.makedirs(out, exist_ok=True)
        # two part files, as Spark writes them: row order is file order
        df.iloc[:2].to_parquet(os.path.join(out, "part-00000.parquet"), index=False)
        df.iloc[2:].to_parquet(os.path.join(out, "part-00001.parquet"), index=False)
        return self.run_check(["q"])

    def run_check(self, names):
        return run.check_outputs(self.input, self.check, names, timeout=60)

    def test_exact_result_passes(self):
        self.assertEqual(self.result(self.good), {})

    def test_changed_value_is_caught(self):
        bad = self.good.copy()
        bad.loc[2, "s"] = "x"
        self.assertEqual(self.result(bad), {"q": "hash mismatch"})

    def test_dropped_row_is_caught(self):
        self.assertEqual(self.result(self.good.iloc[:3]), {"q": "rows 3 vs 4"})

    def test_row_order_is_checked(self):
        swapped = self.good.iloc[[1, 0, 2, 3]].reset_index(drop=True)
        self.assertEqual(self.result(swapped), {"q": "hash mismatch"})

    def test_last_place_float_change_is_caught(self):
        bad = self.good.copy()
        bad.loc[1, "v"] = 0.1 + 2 ** -55
        self.assertEqual(self.result(bad), {"q": "hash mismatch"})

    def test_missing_output_and_missing_oracle(self):
        self.assertIn("spark read failed", self.run_check(["q"])["q"])
        self.assertIn("only-filter", self.run_check(["r"]))


if __name__ == "__main__":
    unittest.main()
