"""Self-tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import re
import unittest

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def span(i, parent, start, dur, kind="x"):
    return {"id": i, "parent": parent, "name": f"s{i}", "kind": kind,
            "start_ms": start, "dur_ms": dur, "counts": {}}


class PercentileRule(unittest.TestCase):
    def test_interpolation(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(stats.percentile([5], 90), 5)
        self.assertAlmostEqual(stats.percentile(range(11), 75), 7.5)

    def test_samples_beyond(self):
        self.assertEqual(stats.samples_beyond(20, 50), 10)
        self.assertEqual(stats.samples_beyond(40, 75), 10)
        self.assertEqual(stats.samples_beyond(100, 90), 10)
        self.assertEqual(stats.samples_beyond(99, 90), 9)

    def test_highest_reportable_has_ten_beyond_and_is_highest(self):
        cands = (50, 75, 90, 95, 99)
        for n in range(1, 2001):
            p = stats.highest_reportable(n, cands)
            if p is None:
                self.assertLess(stats.samples_beyond(n, 50), 10, n)
                continue
            self.assertGreaterEqual(stats.samples_beyond(n, p), 10, n)
            for higher in (c for c in cands if c > p):
                self.assertLess(stats.samples_beyond(n, higher), 10, n)
        self.assertIsNone(stats.highest_reportable(19))
        self.assertEqual(stats.highest_reportable(20), 50)
        self.assertEqual(stats.highest_reportable(40), 75)
        self.assertEqual(stats.highest_reportable(100), 90)

    def test_request_floor_reports_the_median(self):
        """crime_ml's request floor leaves ten samples beyond its median."""
        with open(os.path.join(HERE, "src", "main", "scala", "perfbench",
                               "Main.scala")) as f:
            floor = int(re.search(r"val MinRequests = (\d+)", f.read())[1])
        self.assertIsNotNone(stats.highest_reportable(floor))


class MedianOfMedians(unittest.TestCase):
    def op(self, name, ms):
        return {"name": name, "latency_ms": ms}

    def test_one_name_is_its_median(self):
        ops = [self.op("request", x) for x in (5, 1, 9, 3)]
        self.assertEqual(stats.median_of_medians(ops), 4)

    def test_each_name_counts_once(self):
        # a: 1, 2, 100 -> 2; b: 10, 11 -> 10.5; c: 50 -> 50
        ops = [self.op("a", 1), self.op("a", 100), self.op("a", 2),
               self.op("b", 10), self.op("b", 11), self.op("c", 50)]
        self.assertEqual(stats.median_of_medians(ops), 10.5)


class SelfTime(unittest.TestCase):
    def test_leaf_self_is_its_duration(self):
        self.assertEqual(stats.self_times([span(0, -1, 0, 7)]), {0: 7})

    def test_children_are_subtracted(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 1, 2), span(2, 0, 5, 4),
                 span(3, 2, 6, 1)]
        self.assertEqual(stats.self_times(spans), {0: 4, 1: 2, 2: 3, 3: 1})

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 2, 4), span(2, 0, 4, 4)]
        self.assertEqual(stats.self_times(spans)[0], 4)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 8, 5)]
        self.assertEqual(stats.self_times(spans)[0], 8)


class FailedFrac(unittest.TestCase):
    def op(self, ok, correct):
        return {"ok": ok, "correct": correct}

    def test_accounting(self):
        ops = [self.op(True, True), self.op(True, None),
               self.op(False, None), self.op(True, False),
               self.op(False, False)]
        self.assertEqual(stats.accounting(ops), (5, 3))
        self.assertAlmostEqual(stats.failed_frac(ops), 0.6)

    def test_unchecked_successes_do_not_fail(self):
        ops = [self.op(True, None)] * 4
        self.assertEqual(stats.failed_frac(ops), 0.0)

    def test_nothing_attempted_is_total_failure(self):
        self.assertEqual(stats.failed_frac([]), 1.0)


if __name__ == "__main__":
    unittest.main()
