"""Self-checks of the DuckDB comparator: it accepts an exact answer and
rejects one mutated row, one dropped row and one widened dtype.

    python3 -m unittest discover graftbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import oracle  # noqa: E402

SQL = "SELECT a, b FROM t"


class ComparatorTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        data = os.path.join(self.dir.name, "data")
        os.makedirs(data)
        con = oracle.duckdb.connect()
        con.execute(f"COPY (SELECT range::INTEGER AS a, 'x' || range AS b FROM range(5)) "
                    f"TO '{data}/t.parquet' (FORMAT parquet)")
        self.con = oracle.connect(data)
        self.outputs = 0

    def tearDown(self):
        self.dir.cleanup()

    def result(self, select):
        self.outputs += 1
        path = os.path.join(self.dir.name, f"out{self.outputs}.parquet")
        self.con.execute(f"COPY ({select}) TO '{path}' (FORMAT parquet)")
        return oracle.compare(self.con, [path], SQL)

    def test_exact_answer_in_any_order_passes(self):
        ok, detail = self.result("SELECT b, a FROM t ORDER BY a DESC")
        self.assertTrue(ok, detail)

    def test_mutated_row_fails(self):
        ok, _ = self.result("SELECT a, CASE WHEN a = 3 THEN 'y' ELSE b END AS b FROM t")
        self.assertFalse(ok)

    def test_dropped_row_fails(self):
        ok, _ = self.result("SELECT a, b FROM t WHERE a <> 2")
        self.assertFalse(ok)

    def test_widened_dtype_fails(self):
        ok, detail = self.result("SELECT CAST(a AS BIGINT) AS a, b FROM t")
        self.assertFalse(ok)
        self.assertIn("dtype", detail)


if __name__ == "__main__":
    unittest.main()
