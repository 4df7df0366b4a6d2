#!/usr/bin/env python3
"""The benchmark's own test, on a tiny corpus.

    python3 perfbench/test_run.py

For every workload (those of BENCHMARK.json, and `rest`) it runs the
benchmark untraced and traced and asserts that the last line carries every
end-to-end (resp. per-layer) metric of BENCHMARK.json with its unit, that
the answers were correct and that no operation failed. Then it injects one wrong expected answer and asserts that
the correctness gate trips. Takes a few minutes (each run starts Spark and
builds a small index).
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--docs", "300", "--append-docs", "50", "--seconds", "2"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
# `rest` is not in BENCHMARK.json (see README) but must keep working
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["rest"]


def run(workload, trace, *extra):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--trace", str(trace), *TINY, *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0 and lines, f"run failed (exit {p.returncode}):\n{p.stdout}"
    return json.loads(lines[-1]), p.stdout


class BenchmarkTest(unittest.TestCase):

    def check(self, workload, trace):
        res, out = run(workload, trace)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], out)
        self.assertEqual(res["failed"], 0, out)
        self.assertGreaterEqual(res["attempted"], 1)
        want = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in want})
        for m in want:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"], m["name"])
            # every metric is also printed by name on its own line
            self.assertIn(f"{m['name']} = ", out)

    def test_workloads_print_every_metric(self):
        for w in WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    self.check(w, trace)

    def test_wrong_answer_trips_the_gate(self):
        res, out = run(SPEC["workloads"][0]["name"], 0, "--inject-wrong")
        self.assertFalse(res["correct"], out)
        self.assertGreaterEqual(res["failed"], 1)


if __name__ == "__main__":
    unittest.main()
