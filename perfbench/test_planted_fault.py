#!/usr/bin/env python3
"""Shows that the benchmark's output checks catch a wrong result.

For each workload, one step's checked output gets a duplicated row
(`run.py --plant-fault <step>`); the run must then report correct=false
and count the step as failed. A clean run of the same seed must pass.

Usage (from the repository root): python3 perfbench/test_planted_fault.py
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def run(workload, *extra):
    r = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "0", *extra],
        capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, r.stderr[-3000:]
    return json.loads(r.stdout.strip().splitlines()[-1]), r.stderr


class PlantedFault(unittest.TestCase):
    def check(self, workload, step):
        clean, _ = run(workload)
        self.assertTrue(clean["correct"])
        self.assertEqual(clean["failed"], 0)
        planted, err = run(workload, "--plant-fault", step)
        self.assertFalse(planted["correct"])
        self.assertEqual(planted["failed"], 1)
        self.assertIn(step, err)

    def test_generator_check_catches_report_fault(self):
        self.check("timecamp_elt", "report_budget")

    def test_oracle_check_catches_query_fault(self):
        self.check("engine_queries", "q_inner_join")


if __name__ == "__main__":
    unittest.main()
