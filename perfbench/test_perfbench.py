"""Tests of the benchmark harness itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the repository root. The planted-failure test builds the
engine (first run only) and runs one short design_study workload.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


class PlantedFailures(unittest.TestCase):
    def test_throwing_and_wrong_ops_read_as_failed(self):
        res = subprocess.run(
            [sys.executable, RUN, "--workload", "design_study", "--seed", "7", "--seconds", "5",
             "--trace", "0", "--plant", "throw,wrong"],
            cwd=ROOT, capture_output=True, text=True, timeout=300)
        self.assertEqual(res.returncode, 0, res.stderr[-2000:])
        lines = res.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 2)
        self.assertGreaterEqual(result["attempted"], 2)
        failures = next(l for l in lines if l.startswith("failures: "))
        self.assertIn("java.lang.IllegalStateException: planted failure", failures)
        self.assertIn("leads", failures)  # the wrong answer is caught by the golden check


class BareCheckout(unittest.TestCase):
    def test_refuses_without_engine_sources(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
            res = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "acceptance", "--seed", "1",
                 "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=120, env=env)
            self.assertNotEqual(res.returncode, 0)
            self.assertNotIn('"metrics"', res.stdout)


if __name__ == "__main__":
    unittest.main()
