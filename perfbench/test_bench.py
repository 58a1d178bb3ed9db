#!/usr/bin/env python3
"""Self-test of the benchmark on a tiny input (a few minutes; starts JVMs).

    python3 perfbench/test_bench.py   (from the repository root)

Every workload must print every end-to-end metric of BENCHMARK.json with
its unit, the traced runs every per-layer metric, and an injected wrong
expected answer or failing operation must show up as a failed operation.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace=0, inject=None):
    argv = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
            "--seconds", "1", "--trace", str(trace), "--notes", "60", "--rows", "2"]
    if inject:
        argv += ["--inject-error", inject]
    out = subprocess.run(argv, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{workload} exited {out.returncode}:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().split("\n")
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


class BenchmarkSelfTest(unittest.TestCase):

    def check_metrics(self, result, specs):
        want = {m["name"]: m["unit"] for m in specs}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for v in result["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def test_every_workload_prints_every_metric(self):
        for w in (w["name"] for w in SPEC["workloads"]):
            with self.subTest(workload=w):
                record, result = run(w)
                self.check_metrics(result, SPEC["end_to_end"])
                self.assertEqual(result["failed"], 0, record["failures"])
                self.assertTrue(result["correct"])
                self.assertGreater(result["attempted"], 0)
                self.assertEqual(record["error_rate"], 0.0)
                for key in ("nproc", "spark_master", "driver_xmx", "jdk", "spark", "seed"):
                    self.assertIn(key, record["config"])

    def test_traced_runs_print_every_layer_metric(self):
        for w in ("vault_edit", "catalog"):
            with self.subTest(workload=w):
                _, result = run(w, trace=1)
                self.check_metrics(result, SPEC["per_layer"])
                self.assertTrue(result["correct"])
        self.assertTrue(os.path.exists(os.path.join(ROOT, ".perfbench_run", "agent", "trace.jsonl")))

    def test_wrong_answer_raises_error_rate(self):
        for w in ("vault_edit", "catalog"):
            for inject in ("answer", "throw"):
                with self.subTest(workload=w, inject=inject):
                    record, result = run(w, inject=inject)
                    self.check_metrics(result, SPEC["end_to_end"])
                    self.assertFalse(result["correct"])
                    self.assertGreater(result["failed"], 0)
                    self.assertGreater(record["error_rate"], 0.0)


if __name__ == "__main__":
    unittest.main()
