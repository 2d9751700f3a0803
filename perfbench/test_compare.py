"""Tests of the compare rule. Run: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from compare import judge  # noqa: E402

PARENT = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.0, 10.1, 9.9]


class JudgeTest(unittest.TestCase):
    def test_clear_gain_on_lower_is_better(self):
        change = [x - 1.0 for x in PARENT]
        j = judge(PARENT, change, "lower", 0.1)
        self.assertEqual(j["verdict"], "better")
        self.assertEqual(j["wins"], 10)

    def test_gain_needs_nine_wins_in_ten(self):
        change = [x - 1.0 for x in PARENT]
        change[0] = change[1] = PARENT[0] + 5  # two lost pairs
        self.assertNotEqual(judge(PARENT, change, "lower", 0.5)["verdict"], "better")
        change[1] = PARENT[1] - 1.0  # one lost pair: 9 of 10
        self.assertEqual(judge(PARENT, change, "lower", 0.5)["verdict"], "better")

    def test_ties_count_for_neither_side(self):
        j = judge(PARENT, list(PARENT), "higher", 0.1)
        self.assertEqual(j["wins"], 0)
        self.assertEqual(j["verdict"], "same")

    def test_gain_must_exceed_the_parents_quartile_spread(self):
        change = [x + 0.01 for x in PARENT]  # wins every pair, by less than the spread
        j = judge(PARENT, change, "higher", 0.1)
        self.assertEqual(j["wins"], 10)
        self.assertEqual(j["verdict"], "same")

    def test_regression_beyond_bound_is_worse(self):
        change = [x * 1.2 for x in PARENT]
        self.assertEqual(judge(PARENT, change, "lower", 0.1)["verdict"], "worse")
        self.assertEqual(judge(PARENT, change, "lower", 0.25)["verdict"], "same")

    def test_spread_wider_than_bound_is_unresolved(self):
        noisy = [5.0, 15.0, 8.0, 12.0, 6.0, 14.0, 9.0, 11.0, 7.0, 13.0]
        change = [x * 1.01 for x in noisy]
        j = judge(noisy, change, "lower", 0.1)
        self.assertGreater(j["rel_spread"], 0.1)
        self.assertEqual(j["verdict"], "unresolved")

    def test_unresolved_unless_every_change_run_is_better(self):
        noisy = [5.0, 15.0, 8.0, 12.0, 6.0, 14.0, 9.0, 11.0, 7.0, 13.0]
        change = [x / 10 for x in noisy]  # all below the parent's minimum
        self.assertEqual(judge(noisy, change, "lower", 0.1)["verdict"], "better")

    def test_spread_is_the_parents_quartile_distance(self):
        j = judge(PARENT, PARENT, "lower", 0.1)
        self.assertAlmostEqual(j["spread"], j["parent"][2] - j["parent"][0])
        self.assertAlmostEqual(j["parent"][1], 10.0)


if __name__ == "__main__":
    unittest.main()
