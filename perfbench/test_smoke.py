#!/usr/bin/env python3
"""Smoke test of the benchmark on tiny inputs.

For every workload: an untraced and a traced run must pass their output
checks and print every metric of BENCHMARK.json with its unit, and a run
with a deliberately corrupted output must fail its check.

    python3 perfbench/test_smoke.py            # all workloads
    python3 perfbench/test_smoke.py bulk_load  # one workload
"""
import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402

SCALE = "0.02"


def bench(workload, trace=0, corrupt=False):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", SCALE]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=900)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    return p.returncode, json.loads(last), p.stderr


class Smoke(unittest.TestCase):
    workloads = run.WORKLOADS

    def check_metrics(self, res, kind):
        want = run.declared_metrics(kind)
        self.assertEqual(sorted(res["metrics"]), sorted(n for n, _ in want))
        for name, unit in want:
            m = res["metrics"][name]
            self.assertEqual(m["unit"], unit, name)
            self.assertIsInstance(m["value"], (int, float), name)

    def test_workloads(self):
        for w in self.workloads:
            with self.subTest(workload=w, trace=0):
                code, res, err = bench(w)
                self.assertEqual(code, 0, err[-3000:])
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreaterEqual(res["attempted"], 1)
                self.check_metrics(res, "end_to_end")
                for name, _ in run.declared_metrics("end_to_end"):
                    self.assertGreater(res["metrics"][name]["value"], 0, name)
            with self.subTest(workload=w, trace=1):
                code, res, err = bench(w, trace=1)
                self.assertEqual(code, 0, err[-3000:])
                self.check_metrics(res, "per_layer")
                self.assertGreater(res["metrics"]["job.spark_jobs"]["value"], 0)
            with self.subTest(workload=w, corrupt=True):
                code, res, err = bench(w, corrupt=True)
                self.assertNotEqual(code, 0)
                self.assertFalse(res.get("correct", False))
                self.assertIn("CHECK FAILED", err)


if __name__ == "__main__":
    if len(sys.argv) > 1 and not sys.argv[1].startswith("-"):
        Smoke.workloads = [sys.argv.pop(1)]
    unittest.main()
