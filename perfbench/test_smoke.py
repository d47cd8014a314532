#!/usr/bin/env python3
"""Minimum-size smoke run of every benchmark workload, untraced and traced.

    python3 perfbench/test_smoke.py

Each run uses --smoke (fewest queries, no warm-up pass) and --seconds 1, so
a broken entry point or a wrong answer fails within minutes instead of in
the middle of a measured series.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def smoke(workload, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        capture_output=True, text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if lines else None), r.stderr


class SmokeTest(unittest.TestCase):

    def check(self, workload, trace, names):
        rc, res, err = smoke(workload, trace)
        self.assertEqual(rc, 0, err[-2000:])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], err[-2000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), names)
        return res["metrics"]

    def test_untraced_reports_every_end_to_end_metric(self):
        names = {m["name"] for m in BENCH["end_to_end"]}
        for w in sorted(run.WORKLOADS):
            with self.subTest(workload=w):
                metrics = self.check(w, 0, names)
                for k, m in metrics.items():
                    self.assertGreater(m["value"], 0, k)

    def test_traced_reports_every_per_layer_metric(self):
        names = {m["name"] for m in BENCH["per_layer"]}
        for w in sorted(run.WORKLOADS):
            with self.subTest(workload=w):
                metrics = self.check(w, 1, names)
                self.assertGreater(metrics["scheduler.jobs"]["value"], 0)

    def test_not_found_verdict_only_for_targets_without_preimage(self):
        truth = ("0" * 40, 5, "abcde")
        self.assertFalse(run.check_crack("x", truth))
        self.assertFalse(run.check_crack("abcdf", (run.sha1_hex("abcde"), 5, "abcde")))
        self.assertTrue(run.check_crack("abcde", (run.sha1_hex("abcde"), 5, "abcde")))
        self.assertTrue(run.check_crack("x", ("0" * 40, 5, None)))

    def test_inputs_depend_only_on_the_seed(self):
        a = run.make_inputs("crack", 3, 12, False)
        self.assertEqual(a, run.make_inputs("crack", 3, 12, False))
        self.assertNotEqual(a, run.make_inputs("crack", 4, 12, False))
        lines, truth = run.make_inputs("crack", 3, 12, False)
        misses = sum(1 for _, _, p in truth.values() if p is None)
        self.assertEqual(misses * 4, len(truth))


if __name__ == "__main__":
    unittest.main()
