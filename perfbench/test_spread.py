"""Self-tests for the spread and bound arithmetic in spread.py.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import spread  # noqa: E402


class SpreadTest(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        vals = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(spread.spread(vals), (q3 - q1) / q2)
        self.assertAlmostEqual(spread.spread(vals), (17.25 - 11.75) / 14.5)

    def test_spread_ignores_order_and_scale(self):
        vals = [3.0, 1.0, 2.0, 5.0, 4.0]
        self.assertAlmostEqual(spread.spread(vals), spread.spread(sorted(vals)))
        self.assertAlmostEqual(spread.spread(vals), spread.spread([v * 7 for v in vals]))

    def test_worse_by_follows_direction(self):
        self.assertAlmostEqual(spread.worse_by(100.0, 90.0, "higher"), 0.10)
        self.assertAlmostEqual(spread.worse_by(100.0, 110.0, "higher"), -0.10)
        self.assertAlmostEqual(spread.worse_by(2.0, 2.5, "lower"), 0.25)
        self.assertAlmostEqual(spread.worse_by(2.0, 1.5, "lower"), -0.25)

    def test_compare_flags_only_regressions_beyond_bound(self):
        bench = {"end_to_end": [
            {"name": "rate", "unit": "1/s", "better": "higher", "bound": 0.1},
            {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25}]}
        base = [{"rate": 100.0, "setup_s": 2.0}] * 3
        self.assertTrue(spread.compare(base, [{"rate": 95.0, "setup_s": 2.4}] * 3, bench))
        self.assertFalse(spread.compare(base, [{"rate": 85.0, "setup_s": 2.0}] * 3, bench))
        self.assertFalse(spread.compare(base, [{"rate": 100.0, "setup_s": 2.6}] * 3, bench))

    def test_report_holds_every_metric_to_a_third_of_its_bound(self):
        bench = {"end_to_end": [
            {"name": "rate", "unit": "1/s", "better": "higher", "bound": 0.3},
            {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.3}]}
        steady = [{"rate": 100.0 + i, "setup_s": 2.0 + 0.01 * i} for i in range(10)]
        self.assertTrue(spread.report(steady, bench))
        # a setup_s spread of 0.65 fails like any other metric
        wide = [{"rate": 100.0 + i, "setup_s": 1.0 + 0.25 * i} for i in range(10)]
        self.assertGreater(spread.spread([r["setup_s"] for r in wide]), 0.1)
        self.assertFalse(spread.report(wide, bench))

    def test_parse_seeds(self):
        self.assertEqual(spread.parse_seeds("1-3,7"), [1, 2, 3, 7])


if __name__ == "__main__":
    unittest.main()
