"""The query_mix oracle compare rejects a planted wrong row."""

import pathlib
import sys
import unittest

import pandas as pd

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import oracle  # noqa: E402


class OracleCompareTest(unittest.TestCase):
    def setUp(self):
        self.exp = pd.DataFrame({"symbol": ["a", "b", "c"], "v": [1, 2, 3],
                                 "x": [0.5, 1.5, 2.5]})

    def test_equal_up_to_row_and_column_order(self):
        got = self.exp.iloc[::-1][["x", "v", "symbol"]].reset_index(drop=True)
        self.assertIsNone(oracle.compare(got, self.exp))

    def test_planted_wrong_value(self):
        got = self.exp.copy()
        got.loc[1, "v"] = 20
        self.assertIn("col v", oracle.compare(got, self.exp))

    def test_planted_extra_row(self):
        got = pd.concat([self.exp, self.exp.iloc[:1]], ignore_index=True)
        self.assertIn("rows", oracle.compare(got, self.exp))

    def test_planted_dtype_change(self):
        got = self.exp.astype({"v": "float64"})
        self.assertIn("dtype", oracle.compare(got, self.exp))


if __name__ == "__main__":
    unittest.main()
