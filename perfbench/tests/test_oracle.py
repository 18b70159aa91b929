"""Tests of the DuckDB side's shared-CTE evaluation.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402

BASE = "base AS (SELECT range AS x FROM range(10) WHERE ')(' <> '(')"
TWIN_A = f"WITH {BASE},\nev AS (SELECT x FROM base WHERE x % 2 = 0)\nSELECT x FROM ev"
TWIN_B = (f"WITH RECURSIVE {BASE},\nodd AS MATERIALIZED (SELECT x FROM base WHERE x % 2 = 1),\n"
          "r(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM r WHERE n < 3)\n"
          "SELECT x FROM odd, r WHERE x = n")


class SplitCtes(unittest.TestCase):

    def test_names_columns_and_tail(self):
        head, ctes, tail = oracle.split_ctes(TWIN_B)
        self.assertEqual(head, "WITH RECURSIVE ")
        self.assertEqual([(n, c) for n, c, _ in ctes], [("base", ""), ("odd", ""), ("r", "(n)")])
        self.assertIn("')('", ctes[0][2])  # quoted parentheses stay in the body
        self.assertEqual(tail.strip(), "SELECT x FROM odd, r WHERE x = n")

    def test_no_with_list(self):
        self.assertIsNone(oracle.split_ctes("SELECT 1"))


class SharedCtes(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.twins = oracle.Oracle(self.dir.name, self.dir.name)

    def tearDown(self):
        self.twins.close()
        self.dir.cleanup()

    def plain(self, sql):
        cur = self.twins.con.execute(sql)
        rows = cur.fetchall()
        return len(rows), oracle.checksum([d[0] for d in cur.description], rows)

    def test_same_rows_as_the_twin_run_alone(self):
        for sql in (TWIN_A, TWIN_B):
            self.assertEqual(self.twins.expected([sql]), self.plain(sql))

    def test_a_shared_cte_is_computed_once(self):
        self.twins.expected([TWIN_A])
        after_a = dict(self.twins.tables)
        self.twins.expected([TWIN_B])
        # `base` is shared; B adds only `odd` (the recursive `r` stays inline)
        self.assertEqual(len(after_a), 2)
        self.assertEqual(len(self.twins.tables), 3)
        self.assertTrue(set(after_a.items()) <= set(self.twins.tables.items()))


if __name__ == "__main__":
    unittest.main()
