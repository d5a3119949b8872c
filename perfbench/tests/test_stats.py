"""Tests of the benchmark's percentile and self-time math.

Run: python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_like_numpy(self):
        xs = [15, 20, 35, 40, 50]
        self.assertEqual(stats.percentile(xs, 0), 15)
        self.assertEqual(stats.percentile(xs, 100), 50)
        self.assertEqual(stats.percentile(xs, 50), 35)
        self.assertAlmostEqual(stats.percentile(xs, 40), 29.0)
        self.assertAlmostEqual(stats.percentile(xs, 95), 48.0)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_single_value(self):
        self.assertEqual(stats.percentile([7.5], 95), 7.5)

    def test_no_values(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class TailTest(unittest.TestCase):
    def test_p95_needs_ten_samples_beyond(self):
        # 200 samples: 10 lie beyond p95
        self.assertEqual(stats.tail_level(200), 95.0)
        self.assertEqual(stats.tail_level(1000), 95.0)

    def test_level_drops_with_few_samples(self):
        # 40 samples: only 30 may lie below, so p75
        self.assertEqual(stats.tail_level(40), 75.0)
        self.assertAlmostEqual(stats.tail_level(25), 60.0)

    def test_never_below_median(self):
        self.assertEqual(stats.tail_level(12), 50.0)
        self.assertEqual(stats.tail_level(1), 50.0)

    def test_tail_value(self):
        value, level = stats.tail(list(range(1, 41)))
        self.assertEqual(level, 75.0)
        self.assertAlmostEqual(value, stats.percentile(range(1, 41), 75))


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end}


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_is_duration(self):
        self.assertEqual(stats.self_times([span(1, 0, 0, 100)]), {1: 100})

    def test_children_are_subtracted(self):
        out = stats.self_times([span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 90)])
        self.assertEqual(out, {1: 40, 2: 20, 3: 40})

    def test_overlapping_children_count_once(self):
        out = stats.self_times([span(1, 0, 0, 100), span(2, 1, 10, 60), span(3, 1, 40, 80)])
        self.assertEqual(out[1], 30)

    def test_child_past_parent_is_clipped(self):
        out = stats.self_times([span(1, 0, 0, 100), span(2, 1, 90, 150)])
        self.assertEqual(out[1], 90)

    def test_grandchildren_only_reduce_their_parent(self):
        out = stats.self_times([span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 0, 20)])
        self.assertEqual(out, {1: 50, 2: 30, 3: 20})


if __name__ == "__main__":
    unittest.main()
