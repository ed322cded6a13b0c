#!/usr/bin/env python3
"""The benchmark's own tests.

Usage, from the repository root:  python3 perfbench/test_perfbench.py

Runs every workload at tiny size (plain and traced), proves that one
altered row in a checked result fails the output check, and that the
benchmark refuses to run without the program's sources. Takes a few
minutes: every run starts its own JVM and Spark session.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(*args, cwd=ROOT):
    r = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None)


def tiny(workload, *extra, trace=0):
    return run("--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", str(trace), "--size", "tiny", *extra)


class TinyRuns(unittest.TestCase):
    def check_result(self, res, names):
        self.assertIsNotNone(res)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        self.assertEqual(set(res["metrics"]), names)
        for m in res["metrics"].values():
            self.assertIsInstance(m["value"], (int, float))

    def test_every_workload_plain(self):
        names = {m["name"] for m in SPEC["end_to_end"]}
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, res = tiny(w)
                self.assertEqual(code, 0)
                self.check_result(res, names)
                for n in names:
                    self.assertGreater(res["metrics"][n]["value"], 0, n)

    def test_every_workload_traced(self):
        names = {m["name"] for m in SPEC["per_layer"]}
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, res = tiny(w, trace=1)
                self.assertEqual(code, 0)
                self.check_result(res, names)
                self.assertGreater(res["metrics"]["spark.jobs"]["value"], 0)


class OutputCheck(unittest.TestCase):
    def test_one_altered_row_fails_the_check(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, res = tiny(w, "--fault")
                self.assertEqual(code, 0)
                self.assertIsNotNone(res)
                self.assertFalse(res["correct"])


class Refusal(unittest.TestCase):
    def test_fails_without_program_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "perfbench-bare")
        shutil.rmtree(bare, ignore_errors=True)
        try:
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            code, res = run("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                            "--trace", "0", cwd=bare)
            self.assertNotEqual(code, 0)
            self.assertIsNone(res)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
