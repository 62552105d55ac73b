"""Tests for the benchmark's arithmetic: python3 -m unittest discover perfbench"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def above(self, xs, v):
        return sum(1 for x in xs if x > v)

    def test_keeps_ten_samples_above(self):
        for n, want_q in [(100, 90), (51, 80), (200, 95), (21, 52)]:
            xs = [float(i) for i in range(n)]
            q, v, count = stats.tail_percentile(xs)
            self.assertEqual((q, count), (want_q, n))
            self.assertGreaterEqual(self.above(xs, v), 10)
            # the next percentile up would leave fewer than ten above
            self.assertLess(n - math.ceil((q + 1) / 100 * n), 10)

    def test_small_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail_percentile([3.0, 1.0, 2.0]), (50, 2.0, 3))
        self.assertEqual(stats.tail_percentile([float(i) for i in range(20)])[0], 50)
        self.assertEqual(stats.tail_percentile([]), (50, 0.0, 0))

    def test_order_does_not_matter(self):
        xs = [float((i * 37) % 100) for i in range(100)]
        self.assertEqual(stats.tail_percentile(xs), (90, 89.0, 100))


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_nesting(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (5.2, 5.5)]), 4)
        self.assertEqual(stats.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(3, 3)]), 0)

    def test_self_time_with_overlapping_children(self):
        # two overlapping children (the concurrent bronze ingests) and one
        # running past the parent's end: covered [1,6] and [8,10]
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (3, 6), (8, 12)]), 3)
        self.assertEqual(stats.self_time((0, 10), []), 10)
        self.assertEqual(stats.self_time((0, 10), [(0, 10), (2, 3)]), 0)

    def test_idle_time_from_overlapping_tasks(self):
        # four cores: overlapping tasks count once; time before, between and
        # after them is driver-only
        tasks = [(0, 2), (1, 3), (1.5, 2.5), (5, 6), (-4, -1), (9, 14)]
        self.assertEqual(stats.idle_time((0, 10), tasks), 10 - 3 - 1 - 1)
        self.assertEqual(stats.idle_time((0, 10), []), 10)


class Spread(unittest.TestCase):
    def test_interquartile_share_of_median(self):
        # statistics.quantiles' default (exclusive) method: 2.75, 5.5, 8.25
        self.assertAlmostEqual(stats.spread([float(i) for i in range(1, 11)]), 1.0)
        self.assertEqual(stats.spread([4.0] * 10), 0.0)

    def test_scale_free(self):
        xs = [10.0, 11.0, 9.5, 10.2, 10.4, 9.9, 10.1, 10.0, 10.3, 9.8]
        self.assertAlmostEqual(stats.spread(xs), stats.spread([x * 7 for x in xs]))


if __name__ == "__main__":
    unittest.main()
