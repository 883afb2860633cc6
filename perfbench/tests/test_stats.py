"""Median, percentile and interval math, with the sample counts they
depend on. Run: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import stats  # noqa: E402


class MedianPercentile(unittest.TestCase):
    def test_median_odd_and_even_counts(self):
        self.assertEqual(stats.median([3.0]), 3.0)
        self.assertEqual(stats.median([5.0, 1.0, 3.0]), 3.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_nearest_rank_percentile(self):
        xs = list(range(1, 11))            # 1..10
        self.assertEqual(stats.percentile(xs, 50), 5)
        self.assertEqual(stats.percentile(xs, 90), 9)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)
        self.assertEqual(stats.percentile(list(reversed(xs)), 90), 9)
        for bad in (0, 101):
            with self.assertRaises(ValueError):
                stats.percentile(xs, bad)

    def test_supported_level_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.supported_level(2))
        self.assertIsNone(stats.supported_level(39))
        self.assertEqual(stats.supported_level(40), 75.0)
        self.assertEqual(stats.supported_level(100), 90.0)
        self.assertEqual(stats.supported_level(200), 95.0)
        self.assertEqual(stats.supported_level(1000), 99.0)
        self.assertEqual(stats.supported_level(10000), 99.9)

    def test_timing_summary_states_its_count(self):
        s = stats.timing_summary([2.0, 1.0, 3.0])
        self.assertEqual((s["median"], s["n"], s["p"], s["p_value"]), (2.0, 3, None, None))
        s = stats.timing_summary([float(i) for i in range(1, 41)])
        self.assertEqual((s["n"], s["p"], s["p_value"]), (40, 75.0, 30.0))


class Intervals(unittest.TestCase):
    def test_disjoint_nested_and_overlapping(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 2), (5, 6)]), 3.0)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10.0)
        self.assertEqual(stats.union_length([(3, 6), (0, 4), (5, 8)]), 8.0)
        self.assertEqual(stats.union_length([(0, 1), (1, 2)]), 2.0)

    def test_clipped_to_a_window(self):
        self.assertEqual(stats.union_length([(0, 10)], 2, 5), 3.0)
        self.assertEqual(stats.union_length([(0, 1), (8, 9)], 2, 5), 0.0)
        self.assertEqual(stats.union_length([(1, 3), (4, 9)], 2, 5), 2.0)


if __name__ == "__main__":
    unittest.main()
