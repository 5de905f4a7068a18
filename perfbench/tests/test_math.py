"""Self-tests of the benchmark's own math and oracles.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import oracles  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_exact_when_enough_tail(self):
        xs = list(range(1, 301))  # 300 samples: p95 has 15 beyond it
        self.assertEqual(stats.percentile(xs, 0.95), (285, 0.95))
        self.assertEqual(stats.percentile(xs, 0.50), (150, 0.50))

    def test_capped_to_keep_ten_beyond(self):
        xs = list(range(50, 0, -1))  # 50 samples, unsorted
        v, at = stats.percentile(xs, 0.95)
        self.assertEqual((v, at), (40, 0.8))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_boundary(self):
        xs = list(range(200))  # p95 index 189 leaves exactly 10 beyond
        self.assertEqual(stats.percentile(xs, 0.95), (189, 0.95))
        self.assertEqual(stats.percentile(list(range(199)), 0.95)[1], 189 / 199)

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile(list(range(10)), 0.5)


class FailureRatio(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.failed_ratio(20, 0), 0.0)
        self.assertEqual(stats.failed_ratio(20, 5), 0.25)

    def test_no_attempts_is_total_failure(self):
        self.assertEqual(stats.failed_ratio(0, 0), 1.0)


def ev(op, key, ts, off, value=1.0, k=7):
    return {"op": op, "key": key, "ts_ms": ts, "offset": off, "after": {"value": value, "k": k}}


class LastWriterWins(unittest.TestCase):
    def test_out_of_order_timestamps(self):
        # offset 1 carries the later timestamp: it wins over offset 2
        got = oracles.lww_fold([], [ev("insert", 1, 200, 1, 10.0), ev("update", 1, 100, 2, 20.0)])
        self.assertEqual(got[1], (10.0, "7", 200, 1, False))

    def test_timestamp_tie_breaks_on_offset(self):
        got = oracles.lww_fold([], [ev("update", 1, 100, 5, 50.0), ev("update", 1, 100, 4, 40.0)])
        self.assertEqual(got[1], (50.0, "7", 100, 5, False))

    def test_delete_then_reinsert(self):
        log = [ev("insert", 3, 100, 1, 1.0), ev("delete", 3, 200, 2), ev("insert", 3, 300, 3, 3.0)]
        self.assertEqual(oracles.lww_fold([], log)[3], (3.0, "7", 300, 3, False))
        # the delete wins when it is the latest change: a tombstone remains
        self.assertEqual(oracles.lww_fold([], log[:2])[3], (None, None, 200, 2, True))

    def test_snapshot_rows_lose_to_changes(self):
        snap = [(1, 5.0, 9), (2, 6.0, 9)]
        got = oracles.lww_fold(snap, [ev("update", 2, 1, 0, 8.0)])
        self.assertEqual(got[1], (5.0, "9", None, None, False))
        self.assertEqual(got[2], (8.0, "7", 1, 0, False))

    def test_masked_live_cells(self):
        got = oracles.lww_fold([], [ev("insert", 1, 1, 0), ev("delete", 2, 1, 1)], masked=True)
        self.assertEqual(got[1][1], oracles.MASK)
        self.assertIsNone(got[2][1])


class BenchmarkFile(unittest.TestCase):
    def test_metrics_match_the_harness(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.per_layer_units())
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
