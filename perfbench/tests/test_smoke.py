"""Smoke run of every workload, untraced and traced, at the benchmark's
scale factor (sf0.001): each run must exit 0, match every output to its
oracle expectation, and print exactly the metrics BENCHMARK.json names,
with their units. Takes a few minutes (three JVM launches per run).

    python3 -m unittest perfbench/tests/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class Smoke(unittest.TestCase):
    def test_every_workload_prints_every_metric(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
                1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
        for w in bench["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    r = subprocess.run(
                        bench["command"] + ["--workload", w["name"], "--seed", "1",
                                            "--seconds", "1", "--trace", str(trace)],
                        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=300)
                    self.assertEqual(r.returncode, 0)
                    line = json.loads(r.stdout.strip().splitlines()[-1])
                    self.assertEqual(sorted(line), ["attempted", "correct", "failed", "metrics"])
                    self.assertTrue(line["correct"])
                    self.assertEqual(line["failed"], 0)
                    self.assertGreaterEqual(line["attempted"], 1)
                    got = {n: m["unit"] for n, m in line["metrics"].items()}
                    self.assertEqual(got, want[trace])
                    for m in line["metrics"].values():
                        self.assertIsInstance(m["value"], (int, float))

    def test_refuses_to_run_without_the_program(self):
        # A directory holding only BENCHMARK.json and the benchmark must
        # fail fast with a non-zero exit and no result line.
        import shutil
        import tempfile
        work = os.path.join(ROOT, ".bench_build")
        os.makedirs(work, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=work) as tmp:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "rdf_etl",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=tmp, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=60)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn("correct", r.stdout)


if __name__ == "__main__":
    unittest.main()
