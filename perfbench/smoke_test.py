#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at a tiny size.

    python3 perfbench/smoke_test.py

For each workload it makes two runs of 2 seconds:
  - untraced: exits 0, reports correct with no failed operation, and prints
    every end-to-end metric of BENCHMARK.json with its unit;
  - traced, with one expected answer corrupted: prints every per-layer metric
    with its unit, and the correctness tail catches the corruption (correct
    false, a failed check, exit code 1).
Takes about three minutes on 4 cores.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def run(workload, *extra):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "2", "--tiny", *extra],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    lines = [json.loads(line) for line in proc.stdout.strip().splitlines()]
    env = next((line["env"] for line in lines if "env" in line), {})
    return proc.returncode, (lines[-1] if lines else None), env, proc.stderr


class SmokeTest(unittest.TestCase):
    def assert_metrics(self, result, wanted):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        got = result["metrics"]
        self.assertEqual(sorted(got), sorted(m["name"] for m in wanted))
        for m in wanted:
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(got[m["name"]]["value"], (int, float), m["name"])

    def check_workload(self, workload):
        code, result, _, err = run(workload, "--trace", "0")
        self.assertEqual(code, 0, err[-3000:])
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assert_metrics(result, SPEC["end_to_end"])
        for m in SPEC["end_to_end"]:
            self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])

        code, result, env, err = run(workload, "--trace", "1", "--corrupt-expected")
        self.assertEqual(code, 1, err[-3000:])
        self.assertFalse(result["correct"])
        self.assertEqual(env["mismatches"], 1)
        self.assertEqual(result["failed"], 1)
        self.assert_metrics(result, SPEC["per_layer"])

    def test_serve(self):
        self.check_workload("serve")

    def test_registry(self):
        self.check_workload("registry")


if __name__ == "__main__":
    unittest.main(verbosity=2)
