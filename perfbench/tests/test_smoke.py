"""Smoke run of every workload on tiny inputs (SCALE 8-10, sf0.001): each
run must pass its correctness checks and print every metric named in
BENCHMARK.json with its unit. Builds the program on first use.

    python3 -m unittest discover -s perfbench/tests -p 'test_smoke.py'
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


class Smoke(unittest.TestCase):
    def test_every_workload_prints_every_metric(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        # every workload run.py takes: BENCHMARK.json's and g500_dist
        self.assertLessEqual({w["name"] for w in bench["workloads"]},
                             set(run.WORKLOADS))
        for w in run.WORKLOADS:
            for trace, key in [(0, "end_to_end"), (1, "per_layer")]:
                with self.subTest(workload=w, trace=trace):
                    p = subprocess.run(
                        [sys.executable, os.path.join(HERE, "run.py"),
                         "--workload", w, "--seed", "0", "--seconds", "1",
                         "--trace", str(trace), "--smoke"],
                        cwd=ROOT, stdout=subprocess.PIPE, text=True,
                        timeout=900)
                    self.assertEqual(p.returncode, 0)
                    out = json.loads(p.stdout.strip().splitlines()[-1])
                    self.assertEqual(set(out), {"correct", "attempted",
                                                "failed", "metrics"})
                    self.assertTrue(out["correct"])
                    self.assertGreaterEqual(out["attempted"], 1)
                    self.assertEqual(out["failed"], 0)
                    want = {m["name"]: m["unit"] for m in bench[key]}
                    got = {k: v["unit"] for k, v in out["metrics"].items()}
                    self.assertEqual(got, want)
                    for v in out["metrics"].values():
                        self.assertIsInstance(v["value"], (int, float))


if __name__ == "__main__":
    unittest.main()
