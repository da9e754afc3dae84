"""Smoke test of the benchmark: tiny inputs, every named metric printed.

Run from the root of the repository:

    python3 -m unittest discover -s perfbench/tests -v

Each case runs perfbench/run.py --smoke (the sf0.001 testdata slices: 1k
events, 500 documents; 3k+300 generated taxi trips), so a case costs one
Spark start plus a few pipeline runs.
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
E2E_LINE = ("setup_s", "run_s", "run_s_tail", "rows_per_s", "write_amp", "error_rate")


def run(workload, seed, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines[:-1], json.loads(lines[-1]) if lines else None


class SmokeTest(unittest.TestCase):

    def check_result(self, code, result, names):
        self.assertEqual(code, 0)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), set(names))
        for name, m in result["metrics"].items():
            self.assertEqual(set(m), {"value", "unit"}, name)
            self.assertIsInstance(m["value"], (int, float), name)

    def check_end_to_end_line(self, lines):
        line = next(l for l in lines if l.startswith("[bench] end-to-end:"))
        for name in E2E_LINE:
            self.assertRegex(line, rf"\b{name}=[-0-9.eE]+ \S+", name)

    def test_traced_runs_print_every_layer_metric(self):
        names = [m["name"] for m in SPEC["per_layer"]]
        workloads = [w["name"] for w in SPEC["workloads"]] + ["taxi_incremental"]
        for w in dict.fromkeys(workloads):
            with self.subTest(workload=w):
                code, lines, result = run(w, seed=11, trace=1)
                self.check_result(code, result, names)
                self.check_end_to_end_line(lines)
                self.assertTrue(any(l.startswith("[stability]") for l in lines))

    def test_seeds_change_the_taxi_input_and_both_pass(self):
        names = [m["name"] for m in SPEC["end_to_end"]]
        hashes = []
        for seed in (1, 2):
            code, lines, result = run("taxi_incremental", seed=seed, trace=0)
            self.check_result(code, result, names)
            self.check_end_to_end_line(lines)
            self.assertTrue(any(f"seed={seed}" in l for l in lines))
            hashes.append(next(re.search(r"input hash (\S+)", l).group(1)
                               for l in lines if "input hash" in l))
        self.assertNotEqual(hashes[0], hashes[1])


if __name__ == "__main__":
    unittest.main()
