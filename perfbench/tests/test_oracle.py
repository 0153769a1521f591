"""Tests that the oracle comparison catches a corrupted query result.

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from harness import oracle  # noqa: E402

CO = oracle.load_check_oracle(os.path.dirname(HERE))


def result():
    return pd.DataFrame({"k": pd.Series([1, 2, 3], dtype="int64"),
                         "name": ["a", "b", None],
                         "v": [0.5, 1.25, float("nan")]})


class OracleComparison(unittest.TestCase):
    def test_equal_results_match_in_any_row_and_column_order(self):
        shuffled = result().iloc[[2, 0, 1]][["v", "name", "k"]]
        self.assertIsNone(oracle.compare(result(), shuffled, CO))

    def test_float_within_tolerance_matches(self):
        near = result()
        near.loc[1, "v"] += 1e-12
        self.assertIsNone(oracle.compare(result(), near, CO))

    def test_corrupted_value_is_caught(self):
        bad = result()
        bad.loc[1, "v"] += 1e-6
        self.assertIn("col v", oracle.compare(result(), bad, CO))
        bad = result()
        bad.loc[0, "name"] = "z"
        self.assertIn("col name", oracle.compare(result(), bad, CO))

    def test_missing_row_and_column_are_caught(self):
        self.assertIn("rows", oracle.compare(result(), result().iloc[:2], CO))
        self.assertIn("columns",
                      oracle.compare(result(), result().drop(columns=["v"]), CO))

    def test_float_oracle_against_integer_result_is_caught(self):
        expected = pd.DataFrame({"n": [1.0, 2.0]})
        actual = pd.DataFrame({"n": pd.Series([1, 2], dtype="int64")})
        self.assertIn("dtype parity", oracle.compare(expected, actual, CO))


if __name__ == "__main__":
    unittest.main()
