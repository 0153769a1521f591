"""Tests for the harness's percentile rule and failure accounting.

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import metrics  # noqa: E402


def op(s, ok=True, kind="query", name="q", p=0):
    return {"kind": kind, "name": name, "s": s, "ok": ok, "pass": p,
            "error": None if ok else "boom"}


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.percentile(xs, 0.5), 3)
        self.assertEqual(metrics.percentile(xs, 0.2), 1)
        self.assertEqual(metrics.percentile(xs, 0.21), 2)
        self.assertEqual(metrics.percentile(xs, 1.0), 5)
        # an even count takes the lower middle sample, never an average
        self.assertEqual(metrics.median([1, 2, 3, 4]), 2)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)

    def test_samples_beyond(self):
        self.assertEqual(metrics.beyond(42, 0.75), 10)
        self.assertEqual(metrics.beyond(40, 0.75), 10)
        self.assertEqual(metrics.beyond(39, 0.75), 9)
        self.assertEqual(metrics.beyond(200, 0.95), 10)
        self.assertEqual(metrics.beyond(12, 0.5), 6)

    def test_tail_is_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(metrics.tail(list(range(12))))
        self.assertIsNone(metrics.tail(list(range(39))))
        self.assertEqual(metrics.tail(list(range(42)))[0], 0.75)
        self.assertEqual(metrics.tail(list(range(100)))[0], 0.9)
        self.assertEqual(metrics.tail(list(range(200)))[0], 0.95)
        self.assertEqual(metrics.tail(list(range(1000))), (0.99, 989))


class FailureAccounting(unittest.TestCase):
    def test_thrown_op_counts_as_failed_and_gives_no_timing(self):
        ops = [op(1.0), op(0.001, ok=False), op(3.0)]
        m = metrics.section_metrics("query_suite", ops, [4.001])
        self.assertEqual(metrics.failure_counts(ops), (3, 1))
        self.assertEqual(m["n_unit_ops"], 2)
        # the fast failure must not pull the median down
        self.assertEqual(m["op_p50_s"], 1.0)
        # nor shorten a pass: the only pass had a failure, so no pass time
        self.assertNotIn("pass_s", m)

    def test_passes_without_failures_keep_their_time(self):
        ops = [op(1.0, p=0), op(2.0, p=1, ok=False), op(1.5, p=2)]
        self.assertEqual(metrics.pass_times(ops, [1.0, 2.0, 1.5]), [1.0, 1.5])

    def test_oracle_mismatch_fails_that_querys_ops_only(self):
        ops = [op(1.0, name="q01"), op(2.0, name="q02"), op(1.1, name="q01", p=1)]
        checks = [{"name": "query_suite.q01", "ok": False, "detail": "rows"},
                  {"name": "query_suite.q02", "ok": True, "detail": ""}]
        marked = metrics.mark_failures(ops, checks)
        self.assertEqual([o["ok"] for o in marked], [False, True, False])
        self.assertEqual(metrics.failure_counts(marked), (3, 2))

    def test_failed_state_check_fails_every_op(self):
        ops = [op(0.8, kind="batch"), op(0.3, kind="read.count")]
        checks = [{"name": "cdc_ingest.final_state", "ok": False, "detail": "x"}]
        marked = metrics.mark_failures(ops, checks)
        self.assertEqual(metrics.failure_counts(marked), (2, 2))
        m = metrics.section_metrics("cdc_ingest", marked, [1.1])
        self.assertNotIn("op_p50_s", m)


if __name__ == "__main__":
    unittest.main()
