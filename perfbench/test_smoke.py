#!/usr/bin/env python3
"""The benchmark's own tests: every workload end to end in smoke mode
(small inputs, a 2-second window), untraced and traced, plus the refusal to
run without the program's sources.

    python3 perfbench/test_smoke.py
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(cwd, workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "2", "--trace", str(trace), "--smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        p = run(ROOT, workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], p.stdout)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        for m in declared:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
            if not trace:
                self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])
        return result["metrics"]

    def test_workloads_untraced(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check(w["name"], 0)

    def test_workloads_traced(self):
        layers = {"wal": "gen.backlog_end_files", "store_cycle": "artifacts.x24_labels.persist_s"}
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                metrics = self.check(w["name"], 1)
                self.assertGreater(metrics[layers[w["name"]]]["value"], 0)

    def test_refuses_without_program(self):
        with tempfile.TemporaryDirectory() as bare:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = run(bare, SPEC["workloads"][0]["name"], 0)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
