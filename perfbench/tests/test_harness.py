"""Tests of the harness's percentile, spread and load-guard logic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import harness  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_matches_inclusive_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0]
        q = statistics.quantiles(xs, n=100, method="inclusive")
        for p in (10, 50, 90):
            self.assertAlmostEqual(harness.percentile(xs, p), q[p - 1])

    def test_median_and_single_value(self):
        self.assertEqual(harness.percentile([4.0, 1.0, 3.0, 2.0], 50), 2.5)
        self.assertEqual(harness.percentile([7.0], 90), 7.0)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            harness.percentile([], 50)


class SpreadTest(unittest.TestCase):
    def test_iqr_over_median(self):
        xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(harness.spread(xs), (q3 - q1) / q2)

    def test_constant_values_have_no_spread(self):
        self.assertEqual(harness.spread([3.0] * 10), 0.0)

    def test_scale_free(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        self.assertAlmostEqual(harness.spread(xs), harness.spread([x * 1000 for x in xs]))


class LoadGuardTest(unittest.TestCase):
    def test_within_bound_is_usable(self):
        self.assertTrue(harness.load_usable(0.2, 4))
        self.assertTrue(harness.load_usable(harness.LOAD_PER_CORE_BOUND * 4, 4))

    def test_above_bound_is_unusable(self):
        self.assertFalse(harness.load_usable(harness.LOAD_PER_CORE_BOUND * 4 + 0.01, 4))

    def test_bound_scales_with_cores(self):
        self.assertFalse(harness.load_usable(7.0, 4))
        self.assertTrue(harness.load_usable(7.0, 8))


if __name__ == "__main__":
    unittest.main()
