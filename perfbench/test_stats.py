#!/usr/bin/env python3
"""Self-tests of the benchmark's statistics on synthetic inputs.

Run: python3 perfbench/test_stats.py
"""
import math
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(39), 50)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_interpolated_percentile(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(stats.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 90.1)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)
        self.assertEqual(stats.percentile([3, 1, 2], 0), 1)
        self.assertEqual(stats.percentile([3, 1, 2], 100), 3)


class Geomean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 8]), 4.0)
        self.assertAlmostEqual(stats.geomean([5]), 5.0)

    def test_equal_weight_per_query(self):
        # a 2x slowdown moves the geomean by the same factor whether it
        # hits the 0.3 s query or the 4 s one
        base = stats.geomean([0.3, 4.0])
        self.assertAlmostEqual(stats.geomean([0.6, 4.0]) / base, math.sqrt(2))
        self.assertAlmostEqual(stats.geomean([0.3, 8.0]) / base, math.sqrt(2))

    def test_undefined(self):
        self.assertIsNone(stats.geomean([]))
        self.assertIsNone(stats.geomean([1.0, 0.0]))


class DriverGap(unittest.TestCase):
    def test_union_of_stage_intervals(self):
        # overlapping stages count once; the gap is what no stage covers
        stages = [(1, 3), (2, 4), (6, 7)]
        self.assertEqual(stats.union_length(stages), 4)
        self.assertEqual(stats.driver_gap((0, 10), stages), 6)

    def test_clipped_to_the_span(self):
        self.assertEqual(stats.driver_gap((2, 5), [(0, 3), (4, 9)]), 1)
        self.assertEqual(stats.driver_gap((0, 1), [(2, 3)]), 1)
        self.assertEqual(stats.driver_gap((0, 5), []), 5)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)


class SelfTime(unittest.TestCase):
    def test_span_self_time(self):
        spans = {
            1: (0, 0.0, 10.0),   # op
            2: (1, 1.0, 4.0),    # build
            3: (1, 3.0, 9.0),    # execute, overlapping build
            4: (3, 5.0, 6.0),    # job under execute
            5: (3, 5.5, 7.0),    # concurrent job
        }
        st = stats.self_times(spans)
        self.assertEqual(st[1], 10 - 8)
        self.assertEqual(st[2], 3)
        self.assertEqual(st[3], 6 - 2)
        self.assertEqual(st[4], 1)
        self.assertEqual(st[5], 1.5)

    def test_child_outside_parent_is_clipped(self):
        st = stats.self_times({1: (0, 0.0, 2.0), 2: (1, 1.0, 5.0)})
        self.assertEqual(st[1], 1.0)


if __name__ == "__main__":
    unittest.main()
