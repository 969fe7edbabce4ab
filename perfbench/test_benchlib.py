"""Unit tests of the benchmark's pure helpers.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import benchlib


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(benchlib.percentile(xs, 50), 50)
        self.assertEqual(benchlib.percentile(xs, 90), 90)
        self.assertEqual(benchlib.percentile([7], 99), 7)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(benchlib.supported_percentile(list(range(99)), 90))
        self.assertEqual(benchlib.supported_percentile(list(range(1, 101)), 90), 90)
        self.assertIsNone(benchlib.supported_percentile(list(range(999)), 99))
        self.assertEqual(benchlib.supported_percentile(list(range(1, 1001)), 99), 990)

    def test_summary_reports_the_highest_supported_tail(self):
        self.assertEqual(benchlib.timing_summary([5.0, 1.0, 3.0]), {"n": 3, "p50": 3.0})
        s = benchlib.timing_summary(list(range(1, 101)))
        self.assertEqual((s["n"], s["p90"]), (100, 90))
        self.assertNotIn("p99", s)
        self.assertIn("p99", benchlib.timing_summary(list(range(1000))))

    def test_median_of_nineteen_is_unsupported_but_twenty_is(self):
        self.assertIsNone(benchlib.supported_percentile(list(range(19)), 50))
        self.assertIsNotNone(benchlib.supported_percentile(list(range(20)), 50))


class SpanUnion(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(benchlib.span_union([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching(self):
        self.assertEqual(benchlib.span_union([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipped_to_window(self):
        self.assertEqual(benchlib.span_union([(-5, 5), (8, 30)], 0, 10), 7)
        self.assertEqual(benchlib.span_union([(20, 30)], 0, 10), 0)

    def test_gap_is_window_minus_union(self):
        self.assertEqual(benchlib.gap(0, 100, [(10, 40), (30, 60), (90, 120)]), 40)
        self.assertEqual(benchlib.gap(0, 100, []), 100)


class Reconcile(unittest.TestCase):
    GEN = {"messages": 1000, "drop": 3, "perr": 4, "app_unpaired": 400, "proto": 90}

    def test_balanced(self):
        self.assertEqual(benchlib.reconcile(self.GEN, 593), (True, 0))

    def test_lost_and_extra_messages(self):
        self.assertEqual(benchlib.reconcile(self.GEN, 590), (False, 3))
        self.assertEqual(benchlib.reconcile(self.GEN, 594), (False, -1))

    def test_non_drop_counts_are_ignored(self):
        gen = dict(self.GEN, proto=0)
        self.assertEqual(benchlib.reconcile(gen, 593), (True, 0))


class TriggerResidual(unittest.TestCase):
    def test_parts_and_residual(self):
        d = {"triggerExecution": 100, "latestOffset": 5, "queryPlanning": 10,
             "addBatch": 70, "walCommit": 6, "commitOffsets": 4}
        self.assertEqual(benchlib.trigger_residual(d), 5)


class QuartileSpread(unittest.TestCase):
    def test_spread(self):
        self.assertAlmostEqual(benchlib.quartile_spread([10, 10, 10, 10]), 0.0)
        self.assertAlmostEqual(benchlib.quartile_spread([8, 9, 10, 11, 12]), 3.0 / 10)


if __name__ == "__main__":
    unittest.main()
