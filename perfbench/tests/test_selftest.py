"""Self-test of the benchmark: every workload run.py knows (those in
BENCHMARK.json, scan_churn and pipeline_ops) once at sf0.001, untraced and traced, from
the root of the checkout:

    python3 -m unittest discover -s perfbench/tests

Asserts that each run passes its golden checks (failed == 0) and emits
every metric BENCHMARK.json names, with its unit.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
from run import WORKLOADS  # noqa: E402


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


class SelfTest(unittest.TestCase):
    def check(self, trace, key):
        s = spec()
        want = {m["name"]: m["unit"] for m in s[key]}
        for w in WORKLOADS:
            with self.subTest(workload=w, trace=trace):
                r = run(w, trace)
                self.assertTrue(r["correct"])
                self.assertGreaterEqual(r["attempted"], 1)
                self.assertEqual(r["failed"], 0)
                got = {k: v["unit"] for k, v in r["metrics"].items()}
                self.assertEqual(got, want)
                for k, v in r["metrics"].items():
                    self.assertIsInstance(v["value"], (int, float), k)

    def test_end_to_end_metrics(self):
        self.check(0, "end_to_end")

    def test_per_layer_metrics(self):
        self.check(1, "per_layer")


if __name__ == "__main__":
    unittest.main()
