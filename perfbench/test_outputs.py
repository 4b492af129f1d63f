"""Tests of the output fingerprint.

Run from the root of a checkout:  python3 -m unittest perfbench/test_outputs.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

import outputs  # noqa: E402


class Fingerprint(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()

    def fp(self, sql, casts=None):
        return outputs.fingerprint(self.con, self.con.sql(sql), casts)

    def test_order_and_column_order_insensitive(self):
        a = self.fp("SELECT * FROM (VALUES (1, 'x', 0.5), (2, 'y', 1.5)) t(k, s, v)")
        b = self.fp("SELECT v, s, k FROM (VALUES (2, 'y', 1.5), (1, 'x', 0.5)) t(k, s, v)")
        self.assertEqual(a, b)
        self.assertEqual(a["rows"], 2)
        self.assertEqual([c for c, _ in a["columns"]], ["k", "s", "v"])

    def test_value_type_and_row_changes_show(self):
        base = self.fp("SELECT * FROM (VALUES (1, 0.5), (2, 1.5)) t(k, v)")
        self.assertNotEqual(base, self.fp("SELECT * FROM (VALUES (1, 0.5), (2, 1.25)) t(k, v)"))
        self.assertNotEqual(base, self.fp(
            "SELECT k::BIGINT AS k, v FROM (VALUES (1, 0.5), (2, 1.5)) t(k, v)"))
        self.assertNotEqual(base, self.fp(
            "SELECT * FROM (VALUES (1, 0.5), (2, 1.5), (2, 1.5)) t(k, v)"))

    def test_casts_align_partition_columns(self):
        a = self.fp("SELECT 1995::INTEGER AS ano, 2 AS n")
        b = self.fp("SELECT 1995::BIGINT AS ano, 2 AS n", {"ano": "INTEGER"})
        self.assertEqual(a, b)

    def test_empty_relation(self):
        fp = self.fp("SELECT 1 AS k WHERE false")
        self.assertEqual((fp["rows"], fp["hash"]), (0, "0"))


if __name__ == "__main__":
    unittest.main()
