"""Tests of the benchmark itself.

    python3 -m unittest discover -s graftbench -p 'test_*.py'   # from the repository root

The statistics tests take milliseconds. FaultInjectionTest runs the bench
JVM once per workload, and once more traced, with the test-only fault
switch (a few minutes, and a build first if the sources changed).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check_batch  # noqa: E402
import stats  # noqa: E402


class PercentileRuleTest(unittest.TestCase):
    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4, 5], 50), 3)
        self.assertAlmostEqual(stats.percentile([0, 10], 90), 9.0)

    def test_independent_samples_pick_the_highest_supported_percentile(self):
        # 200 independent samples: 20 beyond p90, 10 beyond p95, 2 beyond p99
        samples = [(i, float(i)) for i in range(200)]
        self.assertEqual(stats.groups_beyond(samples, 90), 20)
        self.assertEqual(stats.supported_percentile(samples), 95)

    def test_samples_sharing_a_group_count_once(self):
        # 30 micro-batches of 20 ticks; the slowest 10% of ticks all sit in
        # three batches, so p90 has only three independent samples beyond it
        samples = [(b, float(b) + t / 100.0) for b in range(30) for t in range(20)]
        self.assertEqual(stats.groups_beyond(samples, 90), 3)
        self.assertEqual(stats.supported_percentile(samples), 50)

    def test_too_few_samples_support_nothing(self):
        self.assertIsNone(stats.supported_percentile([(i, float(i)) for i in range(15)]))


class FailureAccountingTest(unittest.TestCase):
    def test_operations_and_checks_are_attempts(self):
        ops = [{"ok": True}, {"ok": False}, {"ok": True}]
        checks = [{"ok": True}, {"ok": False}]
        self.assertEqual(stats.failure_counts(ops, checks), (5, 2))
        self.assertAlmostEqual(stats.failed_frac(ops, checks), 0.4)

    def test_clean_run_is_zero(self):
        self.assertEqual(stats.failed_frac([{"ok": True}] * 4, [{"ok": True}]), 0.0)

    def test_nothing_attempted_counts_as_failed(self):
        self.assertEqual(stats.failed_frac([], []), 1.0)


class CheckBatchCompareTest(unittest.TestCase):
    def test_null_and_nan_are_the_same_missing_value(self):
        self.assertTrue(check_batch.close(None, float("nan")))
        self.assertFalse(check_batch.close(None, 1.0))

    def test_relative_tolerance(self):
        self.assertTrue(check_batch.close(100.0 + 1e-8, 100.0))
        self.assertFalse(check_batch.close(100.5, 100.0))


class FaultInjectionTest(unittest.TestCase):
    """The fault switch corrupts one workload's checked output; the run
    must then report correct=false, count the failure and exit non-zero."""

    def run_bench(self, workload, trace=0):
        root = os.path.dirname(HERE)
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        cmd = bench["command"] + ["--workload", workload, "--seed", "1", "--seconds", "4",
                                  "--trace", str(trace), "--inject-fault", workload]
        p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])

    def assert_caught(self, workload, trace=0):
        code, res = self.run_bench(workload, trace)
        self.assertNotEqual(code, 0)
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)

    def test_ta_batch(self):
        self.assert_caught("ta_batch")

    def test_ta_stream(self):
        self.assert_caught("ta_stream")

    def test_doc_pipeline(self):
        self.assert_caught("doc_pipeline")

    def test_doc_pipeline_traced(self):
        # traced queries go through the same operation and are scored too
        self.assert_caught("doc_pipeline", trace=1)


if __name__ == "__main__":
    unittest.main()
