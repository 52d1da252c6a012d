"""Unit tests of the benchmark's statistics on synthetic timings.

Run with ``python3 -m pytest perfbench/test_stats.py`` (or
``python3 perfbench/test_stats.py``).
"""

from __future__ import annotations

import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_100_samples(self):
        self.assertIsNone(stats.percentile(list(range(99)), 0.9))
        self.assertIsNotNone(stats.percentile(list(range(100)), 0.9))

    def test_p50_needs_20_samples(self):
        self.assertIsNone(stats.percentile(list(range(19)), 0.5))
        self.assertIsNotNone(stats.percentile(list(range(20)), 0.5))

    def test_ten_samples_lie_beyond_the_rank(self):
        for q in (0.5, 0.75, 0.9, 0.95):
            n = stats.min_samples(q)
            xs = [float(i) for i in range(n)]
            self.assertIsNotNone(stats.percentile(xs, q), q)
            self.assertIsNone(stats.percentile(xs[:-1], q), q)
            rank = -(-q * n // 1)
            self.assertEqual(n - rank, stats.MIN_BEYOND, q)

    def test_p50_is_the_plain_median(self):
        for n in (20, 21, 37):
            xs = [float((i * 7) % n) ** 1.5 for i in range(n)]
            self.assertEqual(stats.percentile(xs, 0.5), statistics.median(xs))

    def test_interpolates_between_ranks(self):
        # rank 0.9 * 100 = 90 exactly on the ramp 0..100; 0.9 * 99 = 89.1 on 0..99
        self.assertAlmostEqual(stats.percentile([float(i) for i in range(101)], 0.9), 90.0)
        self.assertAlmostEqual(stats.percentile([float(i) for i in range(100)], 0.9), 89.1)

    def test_constant_samples(self):
        self.assertEqual(stats.percentile([7.5] * 30, 0.5), 7.5)

    def test_min_samples_values(self):
        self.assertEqual(stats.min_samples(0.5), 20)
        self.assertEqual(stats.min_samples(0.9), 100)
        self.assertEqual(stats.min_samples(0.99), 1000)

    def test_order_does_not_matter(self):
        values = [5.0, 1.0, 4.0, 2.0, 3.0] * 4
        self.assertEqual(stats.percentile(values, 0.5), stats.percentile(sorted(values), 0.5))
        self.assertEqual(stats.percentile(values, 0.5), 3.0)

    def test_rejects_bad_quantile(self):
        with self.assertRaises(ValueError):
            stats.percentile([1.0] * 50, 1.0)


class FailRatio(unittest.TestCase):
    def test_arithmetic(self):
        self.assertEqual(stats.fail_ratio(0, 37), 0.0)
        self.assertEqual(stats.fail_ratio(1, 4), 0.25)
        self.assertEqual(stats.fail_ratio(3, 3), 1.0)

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            stats.fail_ratio(0, 0)
        with self.assertRaises(ValueError):
            stats.fail_ratio(5, 4)
        with self.assertRaises(ValueError):
            stats.fail_ratio(-1, 4)


class SelfTime(unittest.TestCase):
    def test_subtracts_every_part(self):
        # a processed search: 1300 ms total, ids 160, fetch 250, pipeline 700
        self.assertAlmostEqual(stats.self_time(1300.0, [160.0, 250.0, 700.0]), 190.0)

    def test_no_parts_is_the_whole_op(self):
        self.assertEqual(stats.self_time(42.5, []), 42.5)

    def test_fused_op_can_be_cheaper_than_its_parts(self):
        self.assertAlmostEqual(stats.self_time(100.0, [80.0, 40.0]), -20.0)


class Spread(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        values = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
        # quartiles 9.725 / 10.0 / 10.275 with the default exclusive method
        self.assertAlmostEqual(stats.spread(values), 0.055)

    def test_constant_series_has_no_spread(self):
        self.assertEqual(stats.spread([3.0] * 10), 0.0)


if __name__ == "__main__":
    unittest.main()
