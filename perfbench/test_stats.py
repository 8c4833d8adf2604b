"""Tests for stats.py. Run: python3 perfbench/test_stats.py"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), 2.5)

    def test_single(self):
        self.assertEqual(stats.median([7.5]), 7.5)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.median([])


class TailTest(unittest.TestCase):
    def test_needs_more_than_beyond_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertIsNone(stats.tail([1.0] * 10, beyond=10))

    def test_eleven_samples_gives_the_minimum(self):
        # 11 samples: only the smallest has 10 above it
        self.assertEqual(stats.tail(list(range(11, 0, -1))), (1, 100.0 / 11))

    def test_forty_samples_is_p75(self):
        xs = [float(i) for i in range(1, 41)]
        value, pct = stats.tail(xs)
        self.assertEqual(value, 30.0)
        self.assertEqual(pct, 75.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_unsorted_input(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 0.5, 11.0]
        value, _ = stats.tail(xs)
        self.assertEqual(value, 1.0)


class ErrorRateTest(unittest.TestCase):
    def test_accounting(self):
        self.assertEqual(stats.error_rate(4, 0), 0.0)
        self.assertEqual(stats.error_rate(4, 1), 0.25)
        self.assertEqual(stats.error_rate(4, 4), 1.0)

    def test_invalid(self):
        with self.assertRaises(ValueError):
            stats.error_rate(0, 0)
        with self.assertRaises(ValueError):
            stats.error_rate(3, 4)
        with self.assertRaises(ValueError):
            stats.error_rate(3, -1)


class SpreadTest(unittest.TestCase):
    def test_constant_sample_has_no_spread(self):
        self.assertEqual(stats.spread([2.0] * 10), 0.0)

    def test_matches_quantiles(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        # statistics.quantiles (exclusive): q1 = 2.75, q3 = 8.25
        self.assertAlmostEqual(stats.spread(xs), (8.25 - 2.75) / 5.5)

    def test_worse_by(self):
        self.assertAlmostEqual(stats.worse_by(10.0, 11.0, "lower"), 0.1)
        self.assertAlmostEqual(stats.worse_by(10.0, 9.0, "lower"), -0.1)
        self.assertAlmostEqual(stats.worse_by(0.5, 0.4, "higher"), 0.2)


if __name__ == "__main__":
    unittest.main()
