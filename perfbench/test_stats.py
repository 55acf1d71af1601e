"""Self-tests of the benchmark's own reductions.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
(also run, with the Scala loop's self-test, by `python3 perfbench/run.py --selftest`).
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def op(latency_ms, queries=10, rows=100, excluded_ms=0):
    ns = -1 if latency_ms is None else int(latency_ms * 1e6)
    return {"latency_ns": ns, "queries": queries, "rows": rows,
            "excluded_ns": int(excluded_ms * 1e6)}


MS = 1e6


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        vals = list(range(1, 201))  # 200 samples
        pct, value, beyond = stats.tail(vals)
        self.assertEqual(pct, 95.0)  # p99 leaves only 2 beyond, p95 leaves 10
        self.assertEqual(value, 190)
        self.assertEqual(beyond, 10)

    def test_p90_needs_a_hundred_samples(self):
        # 99 samples leave 9 beyond p90, so the tail drops to p75
        self.assertEqual(stats.tail(list(range(1, 100))), (75.0, 75, 24))
        self.assertEqual(stats.tail(list(range(1, 101))), (90.0, 90, 10))

    def test_thousand_samples_reach_p99(self):
        pct, value, beyond = stats.tail(list(range(1, 1001)))
        self.assertEqual((pct, value, beyond), (99.0, 990, 10))

    def test_short_run_falls_back_to_median(self):
        pct, value, beyond = stats.tail([5.0, 1.0, 3.0, 2.0, 4.0])
        self.assertEqual(pct, 50.0)
        self.assertEqual(value, 3.0)
        self.assertLess(beyond, stats.MIN_BEYOND)


class DriverGapTest(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # op 0..100; jobs 10..30 and 20..50 overlap, 70..80 alone
        self.assertEqual(stats.driver_gap(0, 100, [(10, 30), (20, 50), (70, 80)]), 50)

    def test_jobs_clipped_to_the_op(self):
        self.assertEqual(stats.driver_gap(0, 100, [(-20, 10), (90, 130)]), 80)

    def test_two_clients_interleaved(self):
        # client A's op 0..100 with its own jobs; client B's jobs fill A's
        # gaps but are not A's: A's gap counts only A's jobs
        a_jobs = [(0, 20), (60, 80)]
        self.assertEqual(stats.driver_gap(0, 100, a_jobs), 60)
        self.assertEqual(stats.union_length(a_jobs + [(20, 60), (80, 100)], 0, 100), 100)

    def test_no_jobs_is_all_gap(self):
        self.assertEqual(stats.driver_gap(5, 25, []), 20)

    def test_self_time(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 40), (30, 60)]), 50)


class FailedOpTest(unittest.TestCase):
    def test_failed_op_is_counted_not_timed(self):
        ops = [op(100), op(None, excluded_ms=50), op(300), op(200)]
        s = stats.op_summary(ops, clients=1, wall_ns=650 * MS)
        self.assertEqual(s["attempted"], 4)
        self.assertEqual(s["failed"], 1)
        self.assertEqual(s["error_rate"], 0.25)
        self.assertEqual(s["samples"], 3)
        self.assertEqual(s["op_p50_ms"], 200)
        # the failed op's 50 ms leave the window: 30 queries over 0.6 s
        self.assertAlmostEqual(s["queries_per_s"], 30 / 0.6)


class ThroughputTest(unittest.TestCase):
    def test_parallel_clients_double_throughput(self):
        s = stats.op_summary([op(100), op(100)], clients=2, wall_ns=100 * MS)
        self.assertAlmostEqual(s["queries_per_s"], 20 / 0.1)
        self.assertAlmostEqual(s["pairs_per_s"], 2000 / 0.1)

    def test_serialized_clients_show_in_throughput_not_latency(self):
        # same latencies as above, but the two ops ran one after the other
        par = stats.op_summary([op(100), op(100)], clients=2, wall_ns=100 * MS)
        ser = stats.op_summary([op(100), op(100)], clients=2, wall_ns=200 * MS)
        self.assertEqual(par["op_p50_ms"], ser["op_p50_ms"])
        self.assertAlmostEqual(ser["queries_per_s"], par["queries_per_s"] / 2)

    def test_op_builds_are_excluded(self):
        ops = [op(100, excluded_ms=20), op(100, excluded_ms=20)]
        s = stats.op_summary(ops, clients=1, wall_ns=240 * MS)
        self.assertAlmostEqual(s["queries_per_s"], 20 / 0.2)


if __name__ == "__main__":
    unittest.main()
