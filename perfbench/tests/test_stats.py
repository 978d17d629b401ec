"""Unit tests for the benchmark's own statistics.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_hundred_samples_is_p90(self):
        value, pct, n = stats.tail(list(range(1, 101)))
        self.assertEqual((value, pct, n), (90, 90.0, 100))

    def test_order_does_not_matter(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail(xs[::-1]), stats.tail(xs))

    def test_exactly_ten_beyond(self):
        xs = [float(i) for i in range(60)]
        value, pct, _ = stats.tail(xs)
        self.assertEqual(value, 49.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 100.0 * 50 / 60)

    def test_ties_at_the_cut_move_it_down(self):
        # 9 values above 5 only; the cut must drop below the tie block
        xs = [1, 2, 3, 4] + [5] * 5 + [9] * 9
        value, pct, _ = stats.tail(xs)
        self.assertEqual(value, 4)
        self.assertEqual(sum(1 for x in xs if x > value), 14)
        self.assertAlmostEqual(pct, 100.0 * 4 / len(xs))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0, 3))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))

    def test_eleven_samples(self):
        xs = list(range(11))
        self.assertEqual(stats.tail(xs)[0], 0)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_disjoint_children(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        # (2,6) and (4,8) cover 2..8 together: 6 of the 10
        self.assertEqual(stats.self_time((0, 10), [(2, 6), (4, 8)]), 4)

    def test_nested_and_duplicate_children(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 9), (2, 3), (1, 9)]), 2)

    def test_children_outside_the_span_are_clipped(self):
        self.assertEqual(stats.self_time((10, 20), [(5, 12), (18, 30), (40, 50)]), 6)

    def test_touching_children(self):
        self.assertEqual(stats.self_time((0, 10), [(0, 5), (5, 10)]), 0)


class CoreUtilTest(unittest.TestCase):
    def test_one_busy_core_of_four(self):
        # 10 s of executor run time over 10 s of exec wall on 4 cores
        self.assertAlmostEqual(stats.core_util(10_000, 10.0, 4), 0.25)

    def test_all_cores_busy(self):
        self.assertAlmostEqual(stats.core_util(8_000, 2.0, 4), 1.0)

    def test_no_exec_time(self):
        self.assertEqual(stats.core_util(0, 0.0, 4), 0.0)


if __name__ == "__main__":
    unittest.main()
