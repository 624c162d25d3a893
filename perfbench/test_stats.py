"""Self-test of the benchmark's own helpers (no JVM needed):

    python3 perfbench/test_stats.py
"""

import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pin_lanes  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 90), 7)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_empty_refused(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_ten_beyond_rule(self):
        # 100 samples: p90 is the 90th, ten lie beyond it
        t = stats.tail(list(range(100)), 90)
        self.assertEqual((t["n"], t["beyond"], t["ok"]), (100, 10, True))
        # 99 samples leave only nine beyond p90
        t = stats.tail(list(range(99)), 90)
        self.assertEqual((t["n"], t["beyond"], t["ok"]), (99, 9, False))
        # the median of 20 samples has ten beyond it, of 19 only nine
        self.assertTrue(stats.tail(list(range(20)), 50)["ok"])
        self.assertFalse(stats.tail(list(range(19)), 50)["ok"])

    def test_weighted(self):
        pairs = [(10.0, 1), (20.0, 8), (30.0, 1)]
        self.assertEqual(stats.weighted_percentile(pairs, 50), 20.0)
        self.assertEqual(stats.weighted_percentile(pairs, 90), 20.0)
        self.assertEqual(stats.weighted_percentile(pairs, 91), 30.0)
        self.assertEqual(stats.weighted_percentile(pairs, 10), 10.0)


class LatenessTest(unittest.TestCase):
    def test_on_time(self):
        due = [100.0 * i for i in range(100)]
        pub = [d + 1.0 for d in due]
        r = stats.lateness(due, pub, 100)
        self.assertTrue(r["ok"])
        self.assertEqual(r["late_ticks"], 0)
        self.assertAlmostEqual(r["max_ms"], 1.0)

    def test_one_missed_period_is_late(self):
        due = [100.0 * i for i in range(100)]
        pub = list(due)
        pub[40] += 150.0
        r = stats.lateness(due, pub, 100)
        self.assertFalse(r["ok"])
        self.assertEqual(r["late_ticks"], 1)

    def test_many_half_period_slips_are_late(self):
        due = [100.0 * i for i in range(100)]
        pub = [d + (60.0 if i % 10 == 0 else 0.0) for i, d in enumerate(due)]
        r = stats.lateness(due, pub, 100)
        self.assertEqual(r["late_ticks"], 10)
        self.assertFalse(r["ok"])  # 10% > 5%
        pub = [d + (60.0 if i % 25 == 0 else 0.0) for i, d in enumerate(due)]
        self.assertTrue(stats.lateness(due, pub, 100)["ok"])  # 4%


class BacklogTest(unittest.TestCase):
    def test_counts_uncommitted(self):
        pub = [0.0, 100.0, 200.0, 300.0]
        commit = [150.0, 150.0, 450.0, 450.0]
        self.assertEqual(stats.backlog(pub, commit), [1, 2, 1, 2])

    def test_flat_backlog(self):
        # every file commits 250 ms after it is published: about 3 in flight
        pub = [100.0 * i for i in range(120)]
        commit = [p + 250.0 for p in pub]
        s = stats.backlog(pub, commit)
        self.assertFalse(stats.backlog_grew(s, 100, 250))

    def test_growing_backlog(self):
        # commits fall further behind with every file
        pub = [100.0 * i for i in range(120)]
        commit = [p + 50.0 * i for i, p in enumerate(pub)]
        s = stats.backlog(pub, commit)
        self.assertTrue(stats.backlog_grew(s, 100, 250))


class SpreadTest(unittest.TestCase):
    def test_spread(self):
        self.assertAlmostEqual(stats.spread([10.0] * 10), 0.0)
        xs = [9.0, 9.5, 10.0, 10.0, 10.0, 10.0, 10.0, 10.5, 11.0, 10.0]
        self.assertLess(stats.spread(xs), 0.1)


class FingerprintTest(unittest.TestCase):
    """The Python rendering must match Fingerprint in QueryMix.scala."""

    def test_num(self):
        self.assertEqual(pin_lanes.num(2.5), "2.50000e+00")
        self.assertEqual(pin_lanes.num(-0.000123456789), "-1.23457e-04")
        self.assertEqual(pin_lanes.num(1e20), "1.00000e+20")
        self.assertEqual(pin_lanes.num(0.0), "0.00000e+00")
        self.assertEqual(pin_lanes.num(-0.0), "0.00000e+00")
        # an exact tie rounds half-even, not half-up
        self.assertEqual(pin_lanes.num(1234565.0), "1.23456e+06")
        self.assertEqual(pin_lanes.num(1234575.0), "1.23458e+06")

    def test_order_insensitive(self):
        cols = ["b", "A"]
        rows = [(1, "x"), (2, None), (3, "z")]
        fp = pin_lanes.fingerprint(rows, cols)
        self.assertEqual(fp, pin_lanes.fingerprint(list(reversed(rows)), cols))
        self.assertTrue(fp.startswith("3:"))
        self.assertNotEqual(fp, pin_lanes.fingerprint(rows[:2], cols))
        # columns are rendered in case-insensitive name order
        self.assertEqual(fp, pin_lanes.fingerprint([(r[1], r[0]) for r in rows], ["A", "b"]))


if __name__ == "__main__":
    unittest.main()
