"""Tiny-scale smoke run of every workload, untraced and traced: the run passes
its output checks and prints exactly the metrics BENCHMARK.json names, each
with its unit; the untraced report also prints the report-only metrics.
Builds the benchmark first if needed (about a minute).

    python3 -m unittest discover -s jobbench/tests
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402


class Smoke(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def run_bench(self, workload, trace):
        cmd = [sys.executable, os.path.join(ROOT, "jobbench", "run.py"),
               "--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", str(trace), "--scale", "tiny"]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                           timeout=900)
        self.assertEqual(p.returncode, 0, p.stdout)
        return json.loads(p.stdout.rstrip("\n").split("\n")[-1]), p.stdout

    def check(self, trace, section, report_only=()):
        expected = {m["name"]: m["unit"] for m in self.spec[section]}
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                res, out = self.run_bench(w, trace)
                for name in report_only:
                    self.assertRegex(out, r"\n  %s +\d" % name)
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreaterEqual(res["attempted"], 1)
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                self.assertEqual(got, expected)

    def test_end_to_end_metrics(self):
        self.check(0, "end_to_end", report_only=("cold_job_s", "failed_frac"))

    def test_per_layer_metrics(self):
        self.check(1, "per_layer")


if __name__ == "__main__":
    unittest.main()
