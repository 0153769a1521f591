"""Tiny-size smoke run: every workload, untraced and traced, prints every
metric BENCHMARK.json names, with its unit, and passes its output checks.

Run from the checkout root (builds on first use; a few minutes):
    python3 -m unittest perfbench/tests/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAMED = {
    "cdc_ingest": ["setup_s", "peak_rss_mb", "fresh_p50_s", "cdc_rec_per_s",
                   "table_bytes_per_row", "read_p50_s", "failed_op_ratio"],
    "query_suite": ["setup_s", "peak_rss_mb", "query_p50_s", "query_p75_s",
                    "suite_pass_s", "failed_op_ratio"],
}


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "20", "--trace", str(trace), "--tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900, check=True)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class Smoke(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def check(self, workload, trace):
        info, result = run(workload, trace)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        wanted = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"], m["name"])
        self.assertTrue(info["settings"]["spark.master"].startswith("local["))
        self.assertGreaterEqual(result["attempted"], 1)
        # a failed op removes a sample, and with it maybe the tail percentile
        self.assertEqual(result["failed"], 0, info["checks_failed"])
        for name in NAMED[workload]:
            self.assertIn(name, info["named_metrics"])
        self.assertTrue(result["correct"], info)

    def test_cdc_ingest(self):
        for trace in (0, 1):
            with self.subTest(trace=trace):
                self.check("cdc_ingest", trace)

    def test_query_suite(self):
        for trace in (0, 1):
            with self.subTest(trace=trace):
                self.check("query_suite", trace)


if __name__ == "__main__":
    unittest.main()
