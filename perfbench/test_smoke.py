#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload, briefly, on the small tables.

Run from the root of a checkout:

    python3 perfbench/test_smoke.py

For each workload, untraced and traced, it checks that run.py exits 0, that
every output check passed, and that every metric BENCHMARK.json names is
reported with its unit. A run that is cut short by a failure prints the tail
of its output.
"""

import json
import os
import subprocess
import sys
import unittest

ROOT = os.getcwd()
RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
WORKLOADS = ("stream_microbatch", "artifact_lifecycle")


class Smoke(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def run_one(self, workload, trace):
        r = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "7",
                            "--seconds", "3", "--trace", str(trace), "--smoke"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        self.assertEqual(r.returncode, 0, r.stdout[-2000:] + r.stderr[-4000:])
        lines = r.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertEqual(sorted(result), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(result["correct"], "\n".join(lines[-20:]))
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        named = self.bench["per_layer" if trace else "end_to_end"]
        self.assertEqual(sorted(result["metrics"]), sorted(m["name"] for m in named))
        for m in named:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        return result

    def test_workloads(self):
        for w in WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    res = self.run_one(w, trace)
                    if trace == 0:
                        for name, m in res["metrics"].items():
                            self.assertGreater(m["value"], 0, f"{w}: {name} reads 0")


if __name__ == "__main__":
    unittest.main()
