"""Tests of the benchmark itself.

    python3 perfbench/test_smoke.py

Run from the root of a graft checkout. The smoke test runs every workload
once at a tiny size with tracing on, and checks that every metric named in
BENCHMARK.json is reported and that every answer is correct.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join("perfbench", "run.py")


class BenchmarkTest(unittest.TestCase):
    def test_smoke_runs_every_workload_correctly(self):
        p = subprocess.run([sys.executable, RUN, "--smoke"], cwd=ROOT, capture_output=True,
                           text=True, timeout=1200)
        self.assertEqual(p.returncode, 0, p.stderr[-4000:])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(last, {"smoke": "ok", "workloads": [w["name"] for w in spec["workloads"]]})

    def test_refuses_a_directory_without_graft_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "perfbench", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"))
            p = subprocess.run([sys.executable, RUN, "--workload", "dash_small", "--seed", "1",
                                "--seconds", "1", "--trace", "0"], cwd=bare, capture_output=True,
                               text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
