#!/usr/bin/env python3
"""Smoke test: every workload at tiny size finishes with no failures.

    python3 perfbench/test_smoke.py

Runs each workload once through run.py with --smoke 1 (sf0.001 data,
a 3-second window) and checks the result line: correct, nothing
failed, and every end-to-end metric present and positive. A traced run
checks the per-layer report. Both compare the metrics' names and units
with BENCHMARK.json's lists.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["event_store", "shared_log", "registry_sf001"]


def declared(kind):
    """BENCHMARK.json's `kind` list as {name: unit}."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def reported(result):
    return {k: v["unit"] for k, v in result["metrics"].items()}


class SmokeTest(unittest.TestCase):
    def run_workload(self, workload, trace):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "3", "--trace", str(trace), "--smoke", "1"],
            stdout=subprocess.PIPE, text=True, timeout=600)
        self.assertEqual(out.returncode, 0, out.stdout[-3000:])
        return json.loads(out.stdout.strip().splitlines()[-1]), out.stdout

    def test_each_workload_passes_at_tiny_size(self):
        names = declared("end_to_end")
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res, text = self.run_workload(w, 0)
                self.assertTrue(res["correct"], text[-3000:])
                self.assertEqual(res["failed"], 0, text[-3000:])
                self.assertGreaterEqual(res["attempted"], 1)
                self.assertEqual(reported(res), names)
                for n in names:
                    self.assertGreater(res["metrics"][n]["value"], 0, n)

    def test_traced_run_reports_layers(self):
        res, text = self.run_workload("shared_log", 1)
        self.assertEqual(res["failed"], 0, text[-3000:])
        self.assertEqual(reported(res), declared("per_layer"))
        self.assertGreater(res["metrics"]["SharedLog.append.calls"]["value"], 0)
        self.assertGreater(res["metrics"]["spark.jobs"]["value"], 0)
        self.assertIn("layer SharedLog.append self", text)


if __name__ == "__main__":
    unittest.main()
