"""Unit tests for the benchmark's percentile rule and oracle digest.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        p = stats.percentile(list(range(1, 101)), 0.9)
        self.assertAlmostEqual(p.value, 90.1)
        self.assertEqual((p.n, p.beyond), (100, 10))
        self.assertEqual(stats.percentile([4.0, 1.0, 3.0, 2.0], 0.5).value, 2.5)

    def test_needs_ten_samples_beyond(self):
        self.assertTrue(stats.percentile(range(101), 0.9).counts)
        self.assertFalse(stats.percentile(range(90), 0.9).counts)
        self.assertTrue(stats.percentile(range(21), 0.5).counts)
        self.assertFalse(stats.percentile(range(19), 0.5).counts)

    def test_empty(self):
        self.assertEqual(stats.percentile([], 0.5).n, 0)


class OracleDigest(unittest.TestCase):
    def test_order_insensitive(self):
        rows = [(1, "a", 0.5), (2, "b", None), (2, "b", None)]
        d = oracle.digest(["x", "y", "z"], rows)
        for _ in range(10):
            random.shuffle(rows)
            self.assertEqual(oracle.digest(["x", "y", "z"], rows), d)
        swapped = [(r[2], r[0], r[1]) for r in rows]
        self.assertEqual(oracle.digest(["z", "x", "y"], swapped), d)

    def test_sees_values_and_multiplicity(self):
        rows = [(1, "a"), (1, "a")]
        self.assertNotEqual(oracle.digest(["x", "y"], rows), oracle.digest(["x", "y"], rows[:1]))
        self.assertNotEqual(oracle.digest(["x", "y"], rows), oracle.digest(["x", "y"], [(1, "a"), (1, "b")]))

    def test_materialized_leaves_recursive_cte_alone(self):
        sql = ("WITH RECURSIVE a AS (SELECT 1), b AS (SELECT 2),\n"
               "r(x) AS (SELECT 1 UNION SELECT x FROM r) SELECT * FROM r")
        out = oracle.materialized(sql)
        self.assertIn("a AS MATERIALIZED (", out)
        self.assertIn("b AS MATERIALIZED (", out)
        self.assertIn("r(x) AS (", out)


if __name__ == "__main__":
    unittest.main()
