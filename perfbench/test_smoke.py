"""Smoke tests of the benchmark at its tiny size.

Run from the repository root (about five minutes on four cores):

    python3 -m unittest perfbench/test_smoke.py

Each test runs perfbench/run.py with --size smoke and checks that every
metric BENCHMARK.json names is emitted with its unit, that the output
checks pass on the unaltered program, and that a deliberately corrupted
output raises failed_op_share and makes the run exit non-zero.
"""
import json
import pathlib
import subprocess
import sys
import unittest

ROOT = pathlib.Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace=0, corrupt=0):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--size", "smoke", "--corrupt", str(corrupt)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    report = json.loads(lines[-2].removeprefix("perfbench report: "))
    return p.returncode, result, report


class SmokeTest(unittest.TestCase):

    def assert_metrics(self, result, specs):
        got = result["metrics"]
        self.assertEqual(sorted(got), sorted(m["name"] for m in specs))
        for m in specs:
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(got[m["name"]]["value"], (int, float))

    def test_every_metric_is_emitted_with_its_unit(self):
        for w in (w["name"] for w in SPEC["workloads"]):
            for trace, specs in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
                with self.subTest(workload=w, trace=trace):
                    code, result, report = run(w, trace)
                    self.assertEqual(code, 0, result)
                    self.assertTrue(result["correct"])
                    self.assertGreaterEqual(result["attempted"], 1)
                    self.assertEqual(result["failed"], 0)
                    self.assertEqual(report["failed_op_share"],
                                     {"value": 0.0, "unit": "ratio"})
                    self.assert_metrics(result, specs)
                    if trace == 0:
                        for m in specs:
                            self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])

    def test_corrupted_output_raises_failed_op_share(self):
        for w in (w["name"] for w in SPEC["workloads"]):
            with self.subTest(workload=w):
                code, result, report = run(w, corrupt=1)
                self.assertNotEqual(code, 0)
                self.assertFalse(result["correct"])
                self.assertGreater(result["failed"], 0)
                self.assertGreater(report["failed_op_share"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
