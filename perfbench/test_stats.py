"""Tests of the benchmark's statistics: python3 -m unittest perfbench/test_stats.py"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def span(id, parent, start, end):
    return {"id": id, "parent": parent, "start_ns": start, "end_ns": end}


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        with self.assertRaises(ValueError):
            stats.percentile(xs[:99], 0.9)

    def test_tail_steps_down_to_a_percentile_with_ten_beyond(self):
        q, v = stats.tail(list(range(1, 51)))
        self.assertEqual(q, 0.8)
        self.assertEqual(v, 40)
        self.assertEqual(stats.tail(list(range(1, 101))), (0.9, 90))

    def test_no_tail_from_the_median_up_below_twenty_samples(self):
        self.assertIsNone(stats.tail(list(range(19))))
        self.assertEqual(stats.tail(list(range(20)))[0], 0.5)

    def test_every_reported_tail_has_ten_beyond(self):
        for n in range(20, 300):
            xs = list(range(n))
            q, v = stats.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), stats.MIN_BEYOND, n)


class FailureTest(unittest.TestCase):
    def test_failed_op_misses_every_latency_bound(self):
        ops = [{"ms": 5.0, "ok": True}] * 20 + [{"ms": 1.0, "ok": False}] * 12
        xs = stats.latencies(ops)
        self.assertEqual(xs.count(math.inf), 12)
        _, tail = stats.tail(xs)
        self.assertEqual(tail, math.inf)

    def test_wrong_answer_counts_as_failed(self):
        ops = [{"ms": 5.0, "ok": True}, {"ms": 3.0, "ok": False}]
        self.assertEqual(stats.failure_counts(ops, []), (2, 1))

    def test_run_level_check_failure_is_a_failure(self):
        ops = [{"ms": 5.0, "ok": True}]
        self.assertEqual(stats.failure_counts(ops, [{"ok": False}]), (1, 1))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_are_counted_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 30, 70),
                 span(4, 1, 90, 120)]
        self.assertEqual(stats.self_times(spans)[1], 100 - 60 - 10)

    def test_sequential_nested_self_times_sum_to_the_root(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 60), span(3, 2, 20, 30),
                 span(4, 2, 30, 40), span(5, 1, 60, 80)]
        selfs = stats.self_times(spans)
        self.assertEqual(selfs, {1: 30, 2: 30, 3: 10, 4: 10, 5: 20})
        self.assertEqual(sum(selfs.values()), 100)

    def test_child_outside_its_parent_is_clipped(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 130)]
        self.assertEqual(stats.self_times(spans)[1], 90)


if __name__ == "__main__":
    unittest.main()
