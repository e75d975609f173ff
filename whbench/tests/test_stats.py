import math
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_quartiles_match_statistics_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertEqual(q2, statistics.median(xs))

    def test_single_sample_is_its_own_quartiles(self):
        self.assertEqual(stats.quartiles([1.5]), (1.5, 1.5, 1.5))

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0, 16.0]), 4.0)
        self.assertAlmostEqual(stats.geomean([2.0]), 2.0)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])
        with self.assertRaises(ValueError):
            stats.geomean([])

    def test_summary_counts_samples(self):
        s = stats.summary([0.3, 0.1, 0.2, 0.4], "s")
        self.assertEqual(s["n"], 4)
        self.assertEqual(s["unit"], "s")
        self.assertAlmostEqual(s["value"], 0.25)
        self.assertLessEqual(s["q1"], s["value"])
        self.assertLessEqual(s["value"], s["q3"])

    def test_failure_share(self):
        self.assertEqual(stats.failure_share(4, 0), 0.0)
        self.assertEqual(stats.failure_share(4, 1), 0.25)
        with self.assertRaises(ValueError):
            stats.failure_share(0, 0)
        self.assertTrue(math.isclose(stats.failure_share(3, 3), 1.0))


if __name__ == "__main__":
    unittest.main()
