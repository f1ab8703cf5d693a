#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from anywhere:

    python3 perfbench/test_bench.py

They start JVMs through run.py, so they take a few minutes.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def run(*args):
    r = subprocess.run([sys.executable, RUN, *args], cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=900)
    return r.returncode, r.stdout.splitlines()


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in ("fleet", "portal", "ingest"):
            with self.subTest(workload=w):
                a = run("--mode", "inputs", "--workload", w, "--seed", "5")
                b = run("--mode", "inputs", "--workload", w, "--seed", "5")
                self.assertEqual(a[0], 0)
                self.assertEqual(a[1][-1], b[1][-1])

    def test_the_seed_varies_portal_and_ingest_inputs(self):
        for w in ("portal", "ingest"):
            with self.subTest(workload=w):
                a = run("--mode", "inputs", "--workload", w, "--seed", "5")
                c = run("--mode", "inputs", "--workload", w, "--seed", "6")
                self.assertNotEqual(a[1][-1], c[1][-1])


class MetricNames(unittest.TestCase):
    def test_names_match_benchmark_json(self):
        code, lines = run("--mode", "names")
        self.assertEqual(code, 0)
        made = json.loads(lines[-1])
        for kind in ("end_to_end", "per_layer"):
            with self.subTest(kind=kind):
                want = {m["name"]: m["unit"] for m in spec()[kind]}
                self.assertEqual(made[kind], want)

    def test_a_run_prints_every_end_to_end_metric(self):
        code, lines = run("--workload", "portal", "--seed", "3", "--seconds", "1", "--trace", "0")
        self.assertEqual(code, 0)
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        want = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, want)
        self.assertTrue(all(v["value"] > 0 for v in result["metrics"].values()))


class Checks(unittest.TestCase):
    def test_every_check_fails_on_a_corrupted_result(self):
        code, lines = run("--mode", "selftest")
        print("\n".join(l for l in lines if l.startswith("selftest")))
        self.assertEqual(code, 0)
        self.assertEqual(sum(l.startswith("selftest ") for l in lines), 3)


if __name__ == "__main__":
    unittest.main(verbosity=2)
