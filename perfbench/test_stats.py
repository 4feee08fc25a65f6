"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import stats


def beyond(n, q):
    return n - max(1, math.ceil(q / 100.0 * n))


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_tail_has_ten_samples_beyond_and_is_highest(self):
        for n in range(11, 3000, 7):
            q = stats.tail_rank(n)
            self.assertIsNotNone(q, n)
            self.assertGreaterEqual(beyond(n, q), 10, n)
            if q < stats.MAX_TAIL:
                self.assertLess(beyond(n, round(q + 0.1, 1)), 10, n)

    def test_known_points(self):
        self.assertIsNone(stats.tail_rank(10))
        self.assertEqual(stats.tail_rank(100), 90.0)
        self.assertEqual(stats.tail_rank(330), 96.9)
        self.assertEqual(stats.tail_rank(1000), 99.0)
        self.assertEqual(stats.tail_rank(5000), 99.0)

    def test_small_samples_fall_back_to_median(self):
        xs = [float(i) for i in range(1, 16)]
        self.assertEqual(stats.tail(xs), (50.0, 8.0))

    def test_failed_ops_miss_every_limit(self):
        xs = [1.0] * 95 + [math.inf] * 5
        q, v = stats.tail(xs)
        self.assertEqual(q, 90.0)
        self.assertEqual(v, 1.0)
        xs = [1.0] * 85 + [math.inf] * 15
        self.assertTrue(math.isinf(stats.tail(xs)[1]))
        self.assertTrue(math.isinf(stats.percentile([1.0, math.inf, math.inf], 50)))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, s, e):
        return {"id": i, "parent": parent, "start_us": s, "end_us": e}

    def test_children_union_is_subtracted(self):
        spans = [self.span(1, 0, 0, 100),
                 self.span(2, 1, 10, 40), self.span(3, 1, 30, 60),  # overlap 30..40
                 self.span(4, 3, 35, 50),
                 self.span(5, 1, 90, 130)]  # runs past its parent: clipped at 100
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - (50 + 10))
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 30 - 15)
        self.assertEqual(st[4], 15)
        self.assertEqual(st[5], 40)

    def test_leaf_and_disjoint(self):
        self.assertEqual(stats.union_length([(0, 5), (10, 12)]), 7)
        self.assertEqual(stats.union_length([(0, 5), (1, 2), (4, 9)]), 9)
        self.assertEqual(stats.union_length([(0, 5)], 3, 4), 1)
        self.assertEqual(stats.union_length([]), 0)


class Compare(unittest.TestCase):
    bounds = {"latency_ms": 0.1, "rate": 0.1}
    better = {"latency_ms": "lower", "rate": "higher"}

    def row(self, rows, m):
        return next(r for r in rows if r["metric"] == m)

    def test_quartiles_match_statistics_module(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0, 8.0, 7.0, 6.0, 9.0, 10.0]
        q1, med, q3 = stats.quartiles(xs)
        self.assertEqual(med, 5.5)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / med)

    def test_within_and_beyond_bound(self):
        base = {"latency_ms": [10.0] * 10, "rate": [100.0] * 10}
        same = stats.compare(base, base, self.bounds, self.better)
        self.assertTrue(all(r["agree"] for r in same))
        slower = {"latency_ms": [11.5] * 10, "rate": [100.0] * 10}
        rows = stats.compare(base, slower, self.bounds, self.better)
        self.assertFalse(self.row(rows, "latency_ms")["agree"])
        self.assertAlmostEqual(self.row(rows, "latency_ms")["worse_by"], 0.15)
        self.assertTrue(self.row(rows, "rate")["agree"])

    def test_direction(self):
        base = {"latency_ms": [10.0] * 4, "rate": [100.0] * 4}
        change = {"latency_ms": [5.0] * 4, "rate": [80.0] * 4}
        rows = stats.compare(base, change, self.bounds, self.better)
        self.assertTrue(self.row(rows, "latency_ms")["agree"])  # faster is fine
        self.assertFalse(self.row(rows, "rate")["agree"])  # 20% lower rate is worse
        self.assertAlmostEqual(self.row(rows, "rate")["worse_by"], 0.2)


if __name__ == "__main__":
    unittest.main()
