"""Tests of the benchmark's own machinery: `python3 logbench/test_logbench.py`.

The seed test compiles the program and the benchmark first (see build.py).
"""

import subprocess
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import stats  # noqa: E402


class SpanRow:
    """A span as `stats.self_times` reads it."""

    def __init__(self, id, parent, start, end):
        self.id, self.parent, self.start, self.end = id, parent, start, end

    @property
    def dur(self):
        return self.end - self.start


class PercentileTest(unittest.TestCase):
    def test_p99_needs_ten_samples_beyond_it(self):
        q, value, n = stats.tail(list(range(1, 1001)))
        self.assertEqual((q, value, n), (0.99, 990, 1000))

    def test_smaller_samples_fall_back_to_the_highest_supported_percentile(self):
        q, value, n = stats.tail(list(range(1, 501)))
        self.assertEqual(n, 500)
        self.assertAlmostEqual(q, 0.98)
        self.assertEqual(value, 490)
        self.assertEqual(sum(1 for v in range(1, 501) if v > value), 10)

    def test_every_reported_tail_leaves_ten_samples_beyond(self):
        for n in (21, 37, 150, 999, 1000, 4321):
            values = [(i * 7919) % n for i in range(n)]
            q, value, count = stats.tail(values)
            self.assertEqual(count, n)
            self.assertLessEqual(q, 0.99)
            self.assertGreaterEqual(sum(1 for v in values if v > value), 10, n)

    def test_too_few_samples_report_the_median(self):
        q, value, n = stats.tail([5, 1, 3, 2, 4])
        self.assertEqual((q, value, n), (0.5, 3, 5))

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([3, 1, 2, 4], 0.5), 2)
        self.assertEqual(stats.percentile([], 0.5), 0.0)


class IntervalTest(unittest.TestCase):
    def test_overlapping_appends_wait_for_the_monitor(self):
        # Three calls into one synchronized method: the second queued behind
        # the first for 5, the third ran alone.
        spans = [(0, 10), (5, 15), (20, 30)]
        self.assertEqual(stats.union_length(spans), 25)
        self.assertEqual(stats.overlap_wait(spans), 5)

    def test_nested_and_repeated_intervals(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 4), (2, 4)]), 10)
        self.assertEqual(stats.overlap_wait([(0, 10), (2, 4), (2, 4)]), 4)

    def test_disjoint_and_touching_intervals_never_wait(self):
        self.assertEqual(stats.overlap_wait([(0, 1), (1, 2), (5, 9)]), 0)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent(self):
        spans = [SpanRow(1, 0, 0, 10), SpanRow(2, 1, 2, 4), SpanRow(3, 1, 3, 6), SpanRow(4, 1, 8, 12)]
        self.assertEqual(stats.self_times(spans)[1], 10 - 4 - 2)
        self.assertEqual(stats.self_times(spans)[2], 2)


class WindowTest(unittest.TestCase):
    def test_windows_cut_the_phase_evenly(self):
        self.assertEqual(stats.windows(10, 5), [(0, 2), (2, 4), (4, 6), (6, 8), (8, 10)])

    def test_a_request_spanning_windows_counts_in_proportion(self):
        bounds = stats.windows(4, 2)
        # 8 records over [1, 3]: half in each window; 2 instant records at 3.
        rates = stats.window_rates([1, 3], [3, 3], [8, 2], bounds)
        self.assertEqual(rates, [4 / 2, (4 + 2) / 2])

    def test_rates_ignore_what_falls_outside_the_phase(self):
        self.assertEqual(stats.window_rates([3, 5], [5, 6], [4, 1], stats.windows(4, 1)), [2 / 4])

    def test_latencies_group_by_send_time_late_ones_in_the_last_window(self):
        groups = stats.by_window([0.5, 1.5, 1.9, 4.2], [10, 20, 30, 40], stats.windows(4, 2))
        self.assertEqual(groups, [[10, 20, 30], [40]])


class SeedTest(unittest.TestCase):
    def plan(self, classpath, seed):
        out = subprocess.run(
            ["java", "-cp", classpath, "logbench.Plan", str(seed), "10"],
            check=True, stdout=subprocess.PIPE, text=True).stdout
        return dict(line.split() for line in out.splitlines())

    def test_same_seed_same_payloads_schedules_and_offsets(self):
        try:
            classpath = build.build()
        except build.BuildError as e:
            self.skipTest(str(e))
        first, again, other = self.plan(classpath, 7), self.plan(classpath, 7), self.plan(classpath, 8)
        self.assertEqual(set(first), {"payloads", "batches", "offsets", "windows", "schedule"})
        self.assertEqual(first, again)
        for name in first:
            self.assertNotEqual(first[name], other[name], name)


if __name__ == "__main__":
    unittest.main()
