"""Tests of the benchmark's own arithmetic. Run: python3 -m unittest discover -s perfbench"""
import unittest

import metrics


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        vals = list(range(1, 101))
        self.assertEqual(metrics.nearest_rank(vals, 50), 50)
        self.assertEqual(metrics.nearest_rank(vals, 99), 99)
        self.assertEqual(metrics.nearest_rank(vals, 100), 100)
        self.assertEqual(metrics.nearest_rank([7], 99), 7)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50.0)
        self.assertEqual(metrics.tail_percentile(99), 50.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(999), 90.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_beyond(self):
        self.assertEqual(metrics.beyond(1000, 99), 10)
        self.assertEqual(metrics.beyond(999, 99), 9)


class IntervalUnion(unittest.TestCase):
    def test_disjoint_and_overlapping(self):
        self.assertEqual(metrics.union_length([(0, 2), (5, 6)]), 3)
        self.assertEqual(metrics.union_length([(0, 4), (1, 2), (3, 6)]), 6)
        self.assertEqual(metrics.union_length([(3, 6), (0, 4)]), 6)
        self.assertEqual(metrics.union_length([(0, 2), (2, 3)]), 3)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(5, 5), (4, 3)]), 0)

    def test_idle_clips_to_span(self):
        # span [10, 20]; tasks cover 8..12 and 15..25 -> busy 2 + 5 = 7
        self.assertEqual(metrics.idle(10, 20, [(8, 12), (15, 25)]), 3)
        self.assertEqual(metrics.idle(10, 20, []), 10)
        self.assertEqual(metrics.idle(10, 20, [(0, 30)]), 0)
        # parallel tasks count once
        self.assertEqual(metrics.idle(0, 10, [(0, 5), (0, 5), (1, 4)]), 5)


class BacklogSlope(unittest.TestCase):
    def test_sustained_rate_has_flat_backlog(self):
        # 1000 rows/s offered, every batch catches up to within 100 rows
        batches = [(t, 1000 * t / 1000.0 - 100) for t in range(1000, 11000, 500)]
        self.assertAlmostEqual(metrics.backlog_slope(1000, 0, batches), 0.0)

    def test_slow_engine_grows_backlog(self):
        # engine processes 800 rows/s against 1000 offered: +200 rows/s
        batches = [(t, 0.8 * t) for t in range(1000, 11000, 500)]
        self.assertAlmostEqual(metrics.backlog_slope(1000, 0, batches), 200.0)

    def test_slope(self):
        self.assertAlmostEqual(metrics.slope([0, 1, 2], [1, 3, 5]), 2.0)
        self.assertEqual(metrics.slope([1], [1]), 0.0)
        self.assertEqual(metrics.slope([1, 1], [1, 2]), 0.0)


if __name__ == "__main__":
    unittest.main()
