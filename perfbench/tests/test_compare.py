"""Tests of the compare command's verdicts.

Run: python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import compare  # noqa: E402


def runs(values):
    return {seed: v for seed, v in enumerate(values)}


class VerdictTest(unittest.TestCase):
    base = runs([100, 101, 99, 100, 102, 98, 100, 101, 99, 100])

    def test_same_runs_stay_within(self):
        v, share, n = compare.verdict(self.base, self.base, "lower", 0.1)
        self.assertEqual((v, share, n), ("within", 0.0, 10))

    def test_worse_beyond_bound(self):
        slower = runs([x * 1.2 for x in self.base.values()])
        self.assertEqual(compare.verdict(self.base, slower, "lower", 0.1)[0], "worse")

    def test_higher_is_better_direction(self):
        lower = runs([x * 0.8 for x in self.base.values()])
        self.assertEqual(compare.verdict(self.base, lower, "higher", 0.1)[0], "worse")
        self.assertEqual(compare.verdict(self.base, lower, "lower", 0.1)[0], "better")

    def test_small_consistent_gain_is_better(self):
        faster = runs([x - 5 for x in self.base.values()])
        v, share, _ = compare.verdict(self.base, faster, "lower", 0.1)
        self.assertEqual((v, share), ("better", 1.0))

    def test_noisy_baseline_is_unresolved(self):
        noisy = runs([60, 140, 80, 120, 100, 70, 130, 90, 110, 100])
        self.assertEqual(compare.verdict(noisy, noisy, "lower", 0.1)[0], "unresolved")

    def test_metric_without_bound(self):
        self.assertEqual(compare.verdict(self.base, self.base, "lower", None)[0], "-")

    def test_unpaired_seeds_are_ignored_in_win_share(self):
        b = {0: 90, 1: 90, 50: 10}
        _, share, n = compare.verdict(self.base, b, "lower", 0.5)
        self.assertEqual((share, n), (1.0, 2))


class SeedsTest(unittest.TestCase):
    def test_ranges_and_lists(self):
        self.assertEqual(compare.seeds_of("1-3,7"), [1, 2, 3, 7])


if __name__ == "__main__":
    unittest.main()
