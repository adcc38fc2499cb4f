"""Unit tests for the benchmark's own metric helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, beyond = M.tail(xs)
        self.assertEqual(value, 90)  # 91..100 are the ten beyond it
        self.assertEqual(pct, 90.0)
        self.assertEqual(beyond, 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5  # 25 samples
        value, pct, beyond = M.tail(xs)
        self.assertEqual((value, pct, beyond), (3.0, 60.0, 10))
        self.assertEqual(sorted(xs)[14], value)

    def test_too_few_samples_gives_the_maximum(self):
        self.assertEqual(M.tail([0.3, 0.1, 0.2]), (0.3, 100.0, 0))
        self.assertEqual(M.tail([1.0] * 10), (1.0, 100.0, 0))
        self.assertEqual(M.tail([]), (0.0, 0.0, 0))

    def test_eleven_samples(self):
        value, pct, beyond = M.tail(list(range(11)))
        self.assertEqual((value, beyond), (0, 10))
        self.assertAlmostEqual(pct, 100.0 / 11)


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0, "end": 100},   # operation
            {"id": 1, "parent": 0, "start": 10, "end": 40},    # build
            {"id": 2, "parent": 0, "start": 50, "end": 90},    # exec
            {"id": 3, "parent": 2, "start": 55, "end": 65},    # nested in exec
            {"id": 4, "parent": 2, "start": 60, "end": 70},    # overlaps 3
        ]
        st = M.self_times(spans)
        self.assertEqual(st[0], 100 - 30 - 40)
        self.assertEqual(st[1], 30)
        self.assertEqual(st[2], 40 - 15)  # children cover 55..70
        self.assertEqual(st[3], 10)
        self.assertEqual(st[4], 10)

    def test_child_outside_parent_is_clipped(self):
        spans = [{"id": 0, "parent": -1, "start": 0, "end": 10},
                 {"id": 1, "parent": 0, "start": 8, "end": 15}]
        self.assertEqual(M.self_times(spans)[0], 8)

    def test_self_times_sum_to_root_duration(self):
        spans = [{"id": 0, "parent": -1, "start": 0, "end": 10},
                 {"id": 1, "parent": 0, "start": 1, "end": 4},
                 {"id": 2, "parent": 1, "start": 2, "end": 3},
                 {"id": 3, "parent": 0, "start": 5, "end": 9}]
        self.assertEqual(sum(M.self_times(spans).values()), 10)


class UnionTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(M.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(M.union_length([(0, 10)], 2, 5), 3)
        self.assertEqual(M.union_length([(6, 7)], 0, 5), 0)


class SpreadTest(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, med, q3 = 2.75, 5.5, 8.25  # statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(M.spread(xs), (q3 - q1) / med)


if __name__ == "__main__":
    unittest.main()
