"""Tests of the metrics derived from a run's result.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import metrics


def result(ops, seconds=10.0):
    return {"window": {"seconds": seconds, "ops": ops, "causes": []},
            "batch_pairs": [100.0], "batch_s": [1.0]}


class WindowMetrics(unittest.TestCase):
    def test_throughput_counts_correct_answers_only(self):
        ok = [["travel_time", 5.0, True, 1]] * 100
        self.assertEqual(metrics.window_metrics(result(ok))["throughput_rps"], 10.0)
        # failing ops that return fast add nothing to the rate
        failing = ok + [["travel_time", 0.1, False, 1]] * 100
        m = metrics.window_metrics(result(failing))
        self.assertEqual(m["throughput_rps"], 10.0)
        self.assertEqual(m["_samples"], 200)

    def test_failed_ops_lower_throughput_and_miss_latency(self):
        half = [["travel_time", 5.0, True, 1]] * 50 + [["travel_time", 5.0, False, 1]] * 50
        m = metrics.window_metrics(result(half))
        self.assertEqual(m["throughput_rps"], 5.0)
        self.assertTrue(math.isinf(m["latency_tail_ms"]))

    def test_attempts_count_every_op(self):
        ops = [["travel_time", 5.0, True, 1], ["travel_time", 5.0, False, 1]]
        res = result(ops)
        res["window"]["causes"] = [{"cause": "wrong", "count": 1}]
        self.assertEqual(metrics.attempts(res), (2, 1, {"wrong": 1}))


class EndToEnd(unittest.TestCase):
    def run_result(self, firsts):
        res = result([["travel_time", 5.0, True, 1]] * 20)
        res.update({"setup_s": [3.0, 1.0, 2.0], "peak_heap_mb": 80.0,
                    "first_ops": {"seconds": 0.0, "ops": firsts, "causes": []},
                    "batch_window": {"seconds": 1.0, "ops": [], "causes": []}})
        return metrics.end_to_end(res)[0]

    def test_first_query_is_the_mean_of_the_first_requests(self):
        m = self.run_result([["travel_time", 100.0, True, 1], ["travel_time_snap", 50.0, True, 0]])
        self.assertEqual(m["first_query_ms"], 75.0)
        self.assertEqual(m["setup_s"], 2.0)

    def test_a_failed_first_request_misses_every_limit(self):
        m = self.run_result([["travel_time", 100.0, True, 1], ["travel_time_snap", 1.0, False, 0]])
        self.assertTrue(math.isinf(m["first_query_ms"]))


if __name__ == "__main__":
    unittest.main()
