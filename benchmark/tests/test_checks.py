import os
import sys
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from graftbench import checks  # noqa: E402


class DigestTest(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE t AS SELECT i AS id, 'name' || i AS name, "
            "CAST(i AS DECIMAL(12, 2)) / 4 AS amount FROM range(1, 201) r(i)")

    def tearDown(self):
        self.con.close()

    def d(self, sql):
        return checks.digest(self.con, sql)

    def test_row_order_does_not_matter(self):
        a = self.d("SELECT * FROM t")
        self.assertEqual(a, self.d("SELECT * FROM t ORDER BY id DESC"))
        self.assertEqual(a, self.d("SELECT amount, name, id FROM t"))
        self.assertEqual(a[1], 200)

    def test_one_altered_row_is_rejected(self):
        base = self.d("SELECT * FROM t")
        altered = self.d("SELECT id, name, CASE WHEN id = 57 THEN amount + 0.01 "
                         "ELSE amount END AS amount FROM t")
        self.assertEqual(altered[:2], base[:2])
        self.assertNotEqual(altered, base)

    def test_null_moving_between_columns_is_rejected(self):
        self.assertNotEqual(self.d("SELECT 'x' AS p, NULL AS q"),
                            self.d("SELECT NULL AS p, 'x' AS q"))

    def test_engine_columns_are_ignored_and_names_kept(self):
        base = self.d("SELECT * FROM t")
        self.assertEqual(base, self.d("SELECT *, now() AS _graft_load_ts FROM t"))
        self.assertNotEqual(base, self.d("SELECT id, name AS label, amount FROM t"))


if __name__ == "__main__":
    unittest.main()
