#!/usr/bin/env python3
"""Self-test of the benchmark command at tiny scale.

    python3 perfbench/test_run.py

Checks that every workload runs a couple of ops and prints every metric
named in BENCHMARK.json with its unit (untraced and traced), that a
corrupted check input makes the command exit non-zero, and that the
command refuses to run where the engine sources are missing. Takes a few
minutes: each case starts its own JVM.
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
TINY = ["--seconds", "1", "--scale", "0.03"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=1200)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    return p.returncode, lines, p.stderr


class BenchmarkSelfTest(unittest.TestCase):
    def check_metrics(self, lines, wanted):
        res = json.loads(lines[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 2)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        return res

    def test_every_workload_prints_every_metric(self):
        for w in SPEC["workloads"]:
            code, lines, err = run("--workload", w["name"], "--seed", "7", "--trace", "0", *TINY)
            self.assertEqual(code, 0, err[-3000:])
            res = self.check_metrics(lines, SPEC["end_to_end"])
            for m in SPEC["end_to_end"]:
                self.assertGreater(res["metrics"][m["name"]]["value"], 0, (w["name"], m["name"]))
            code, lines, err = run("--workload", w["name"], "--seed", "7", "--trace", "1", *TINY)
            self.assertEqual(code, 0, err[-3000:])
            self.check_metrics(lines, SPEC["per_layer"])

    def test_corrupted_check_input_fails(self):
        for w in SPEC["workloads"]:
            code, lines, _ = run("--workload", w["name"], "--seed", "7", "--trace", "0",
                                 "--corrupt-check", *TINY)
            self.assertNotEqual(code, 0, w["name"])
            self.assertFalse(json.loads(lines[-1])["correct"], w["name"])

    def test_refuses_without_engine_sources(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")
                                         if os.path.isdir(os.path.join(ROOT, ".bench_build"))
                                         else None) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "out"))
            code, lines, _ = run("--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                                 "--trace", "0", *TINY, cwd=d)
            self.assertNotEqual(code, 0)
            self.assertEqual([l for l in lines if l.startswith("{")], [])


if __name__ == "__main__":
    unittest.main()
