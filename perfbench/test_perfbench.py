#!/usr/bin/env python3
"""The benchmark's own tests: every workload end to end at the tiny size,
output checks included, and the refusal to run without the program.

Usage (from the repository root): python3 -m unittest perfbench/test_perfbench.py

Takes about two minutes on four cores, most of it JVM and Spark start-up.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = [sys.executable, os.path.join("perfbench", "run.py")]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class TinyRuns(unittest.TestCase):
    def run_workload(self, workload, trace):
        out = subprocess.run(RUN + ["--workload", workload, "--seed", "7", "--seconds", "4",
                                    "--trace", str(trace), "--size", "tiny"],
                             cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=300)
        self.assertEqual(out.returncode, 0)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        declared = spec()["per_layer" if trace else "end_to_end"]
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()},
                         {m["name"]: m["unit"] for m in declared})
        return result["metrics"]

    def test_stream_traced(self):
        m = self.run_workload("stream", 1)
        # every event is read once per query, six queries
        self.assertAlmostEqual(m["backlog.EventSource.reads_per_event"]["value"], 6.0)
        # one file per trigger: rows past the watermark in the third file on are dropped
        self.assertGreater(m["backlog.RefPipelines.rows_dropped_late"]["value"], 0)
        self.assertGreater(m["baseline.local1_drain_rows_per_s"]["value"], 0)

    def test_batch_mix(self):
        m = self.run_workload("batch_mix", 0)
        for name in ("setup_s", "throughput_per_s", "latency_p50_ms", "heap_live_mb"):
            self.assertGreater(m[name]["value"], 0)


class WithoutProgram(unittest.TestCase):
    def test_fails_without_printing_a_result(self):
        bare = os.path.join(ROOT, ".bench_build", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            out = subprocess.run(RUN + ["--workload", "stream", "--seed", "1", "--seconds", "1", "--trace", "0"],
                                 cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180)
            self.assertNotEqual(out.returncode, 0)
            self.assertNotIn('"correct"', out.stdout)
        finally:
            shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main()
