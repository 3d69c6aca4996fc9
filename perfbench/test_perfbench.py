#!/usr/bin/env python3
"""The benchmark's own tests: seeded generators and the comparison rule.

    python3 -m unittest perfbench/test_perfbench.py

The generator test builds the benchmark (first run only) and needs no
Spark session.
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_content_other_seed_other_content(self):
        res = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--selftest"],
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(res.returncode, 0, res.stdout)
        lines = [x for x in res.stdout.splitlines() if x.strip()]
        self.assertGreaterEqual(len(lines), 6, res.stdout)
        self.assertTrue(all(x.startswith("ok") for x in lines), res.stdout)


class VerdictTest(unittest.TestCase):
    LOWER = {"name": "t", "better": "lower", "bound": 0.1}
    HIGHER = {"name": "q", "better": "higher", "bound": 0.1}
    PARENT = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]

    def test_clear_win_is_improved(self):
        change = [x - 1.0 for x in self.PARENT]
        self.assertEqual(compare.verdict(self.LOWER, self.PARENT, change), (10, "improved"))

    def test_win_inside_the_parent_spread_is_not_improved(self):
        change = [x - 0.05 for x in self.PARENT]
        wins, v = compare.verdict(self.LOWER, self.PARENT, change)
        self.assertEqual(wins, 10)
        self.assertEqual(v, "unchanged")

    def test_loss_beyond_the_bound_is_worse(self):
        change = [x * 1.2 for x in self.PARENT]
        self.assertEqual(compare.verdict(self.LOWER, self.PARENT, change)[1], "worse")
        self.assertEqual(compare.verdict(self.HIGHER, self.PARENT, change)[1], "improved")

    def test_wide_parent_spread_is_unresolved(self):
        parent = [8.0, 12.0, 9.0, 11.0, 8.5, 11.5, 9.5, 10.5, 8.0, 12.0]
        change = [x * 1.05 for x in parent]
        self.assertEqual(compare.verdict(self.LOWER, parent, change)[1], "unresolved")

    def test_nine_of_ten_wins_suffice(self):
        change = [x - 1.0 for x in self.PARENT]
        change[3] = self.PARENT[3] + 1.0
        self.assertEqual(compare.verdict(self.LOWER, self.PARENT, change), (9, "improved"))


if __name__ == "__main__":
    unittest.main()
