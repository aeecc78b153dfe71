"""Tests for the benchmark's pure helpers.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import oracle  # noqa: E402
import stats  # noqa: E402


class MedianQuartiles(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        self.assertEqual(stats.quartiles(xs), (2.75, 5.5, 8.25))

    def test_single_sample(self):
        self.assertEqual(stats.quartiles([7.0]), (7.0, 7.0, 7.0))


class TailRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_level(99))
        self.assertEqual(stats.tail_level(100), 90.0)
        self.assertEqual(stats.tail_level(199), 90.0)
        self.assertEqual(stats.tail_level(200), 95.0)
        self.assertEqual(stats.tail_level(1000), 99.0)
        self.assertEqual(stats.tail_level(10000), 99.9)

    def test_summary_adds_tail_only_when_allowed(self):
        self.assertNotIn("p90", stats.summary(list(range(1, 50))))
        s = stats.summary([float(i) for i in range(1, 101)])
        self.assertEqual(s["p90"], 90.0)
        self.assertEqual(s["n"], 100)

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 100), 5)


class Geomean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 8]), 4.0)
        self.assertAlmostEqual(stats.geomean([3.5]), 3.5)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_ns": a * 10**9, "end_ns": b * 10**9}

    def test_children_subtracted(self):
        spans = [self.span(0, -1, 0, 10), self.span(1, 0, 1, 3), self.span(2, 0, 5, 9)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 4.0)
        self.assertAlmostEqual(st[1], 2.0)

    def test_overlap_counted_once_and_clipped(self):
        spans = [self.span(0, -1, 0, 10), self.span(1, 0, 2, 6), self.span(2, 0, 4, 12),
                 self.span(3, 2, 5, 6)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 2.0)
        self.assertAlmostEqual(st[2], 7.0)

    def test_grandchildren_do_not_count_against_root(self):
        spans = [self.span(0, -1, 0, 10), self.span(1, 0, 0, 4), self.span(2, 1, 0, 4)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 6.0)


class Recall(unittest.TestCase):
    def test_recall(self):
        self.assertEqual(stats.recall_at_k([1, 2, 3], [1, 2, 3], 3), 1.0)
        self.assertEqual(stats.recall_at_k([1, 9, 3, 8], [1, 2, 3, 4], 4), 0.5)
        self.assertEqual(stats.recall_at_k([7, 8], [1, 2], 2), 0.0)

    def test_order_within_top_k_ignored(self):
        self.assertEqual(stats.recall_at_k([3, 2, 1], [1, 2, 3], 3), 1.0)


class OracleCompare(unittest.TestCase):
    def h(self, rows):
        return oracle.canon_hash(oracle.canon_rows(rows))

    def test_row_order_and_float_noise(self):
        a = [(1, "x", 0.1 + 0.2), (2, "y", 1.0)]
        b = [(2, "y", 1), (1, "x", 0.3)]
        self.assertEqual(self.h(a), self.h(b))

    def test_differences_detected(self):
        self.assertNotEqual(self.h([(1, "x")]), self.h([(1, "y")]))
        self.assertNotEqual(self.h([(1,), (1,)]), self.h([(1,)]))

    def test_row_recall_is_a_multiset_overlap(self):
        want = oracle.canon_rows([(1,), (1,), (2,)])
        self.assertEqual(oracle.recall(oracle.canon_rows([(1,), (2,)]), want), 2 / 3)
        self.assertEqual(oracle.recall(want, want), 1.0)


if __name__ == "__main__":
    unittest.main()
