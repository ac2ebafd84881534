"""Unit tests for tools/ab.py's summary: python3 -m unittest discover -s tools/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import ab  # noqa: E402


class SummarizeTest(unittest.TestCase):
    def test_medians_quartiles_ratios_and_wins(self):
        pairs = [({"wall_s": p, "peak_rss_mb": 100.0}, {"wall_s": c, "peak_rss_mb": r})
                 for p, c, r in [(1.0, 0.5, 110.0), (2.0, 1.0, 90.0),
                                 (3.0, 3.3, 100.0), (4.0, 2.0, 95.0),
                                 (5.0, 4.0, 100.0)]]
        s = ab.summarize(pairs, {"wall_s": "lower", "peak_rss_mb": "lower"})
        w = s["wall_s"]
        self.assertEqual(w["parent"], (2.0, 3.0, 4.0))
        self.assertEqual(w["change"], (1.0, 2.0, 3.3))
        self.assertEqual([round(r, 6) for r in w["ratios"]], [0.5, 0.5, 1.1, 0.5, 0.8])
        self.assertEqual((w["wins"], w["pairs"]), (4, 5))
        # ties are not wins
        self.assertEqual(s["peak_rss_mb"]["wins"], 2)

    def test_higher_is_better_and_missing_metrics(self):
        pairs = [({"rate": 10.0}, {"rate": 12.0}), ({"rate": 10.0}, {"rate": 9.0})]
        s = ab.summarize(pairs, {"rate": "higher", "absent": "lower"})
        self.assertEqual(s["rate"]["wins"], 1)
        self.assertNotIn("absent", s)

    def test_one_pair(self):
        s = ab.summarize([({"x": 2.0}, {"x": 1.0})], {"x": "lower"})
        self.assertEqual(s["x"]["parent"], (2.0, 2.0, 2.0))
        self.assertEqual(s["x"]["ratios"], [0.5])


if __name__ == "__main__":
    unittest.main()
