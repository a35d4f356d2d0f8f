import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import steadiness  # noqa: E402
from stats import geomean, median, percentile, union_length  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 3, 2]), 2.5)
        self.assertEqual(median(iter([5.0])), 5.0)
        with self.assertRaises(ValueError):
            median([])

    def test_percentile(self):
        xs = [10, 20, 30, 40, 50]
        self.assertEqual(percentile(xs, 0), 10)
        self.assertEqual(percentile(xs, 50), 30)
        self.assertEqual(percentile(xs, 100), 50)
        self.assertAlmostEqual(percentile(xs, 90), 46.0)
        self.assertAlmostEqual(percentile([1, 2], 25), 1.25)
        with self.assertRaises(ValueError):
            percentile(xs, 101)

    def test_geomean(self):
        self.assertAlmostEqual(geomean([1, 100]), 10.0)
        self.assertAlmostEqual(geomean([2, 2, 2]), 2.0)
        # one slow value moves the geomean by its ratio's root, not its size
        self.assertAlmostEqual(geomean([0.1, 0.1, 0.1, 10.0]), 0.1 * 100 ** 0.25)
        with self.assertRaises(ValueError):
            geomean([1, 0])

    def test_union_length(self):
        self.assertEqual(union_length([]), 0.0)
        self.assertEqual(union_length([(0, 1), (2, 3)]), 2)
        self.assertEqual(union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(union_length([(0, 10), (2, 3)]), 10)


class SteadinessTest(unittest.TestCase):
    BENCH = {"end_to_end": [{"name": "setup_s", "better": "lower", "bound": 0.2},
                            {"name": "lat_s", "better": "lower", "bound": 0.2},
                            {"name": "eps", "better": "higher", "bound": 0.2}]}

    @staticmethod
    def runs(values):
        return [{"host_cpu_probe_ms": 7.0 + i, "metrics": m} for i, m in enumerate(values)]

    def test_spread_is_quartile_distance_over_median(self):
        self.assertAlmostEqual(steadiness.spread([1, 1, 1, 1]), 0.0)
        self.assertAlmostEqual(steadiness.spread([8, 9, 10, 11, 12]), (11.5 - 8.5) / 10)

    def test_pass_needs_spread_and_worse_drift_within_bound(self):
        steady = [{"setup_s": x, "lat_s": x, "eps": x} for x in (10, 10, 10, 10)]
        wide = [{"setup_s": x, "lat_s": x, "eps": 10} for x in (5, 10, 10, 15)]
        out = steadiness.summarize(self.BENCH, [self.runs(wide), self.runs(steady)])
        self.assertTrue(out["setup_s"]["pass"])  # set-up's own spread is not gated
        self.assertFalse(out["lat_s"]["pass"])
        self.assertTrue(out["eps"]["pass"])
        slower = [{"setup_s": 13, "lat_s": 13, "eps": 13} for _ in range(4)]
        out = steadiness.summarize(self.BENCH, [self.runs(steady), self.runs(slower)])
        self.assertAlmostEqual(out["lat_s"]["drift"][0], 0.3)
        self.assertFalse(out["setup_s"]["pass"])  # but its drift is
        self.assertFalse(out["lat_s"]["pass"])
        self.assertTrue(out["eps"]["pass"])  # higher is better: no worse


if __name__ == "__main__":
    unittest.main()
