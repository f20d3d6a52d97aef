#!/usr/bin/env python3
"""The benchmark's own tests: tiny-input runs of every workload.

Run from the repository root (each JVM run takes ~30 s; the first call
builds the engine and the benchmark):

    python3 -m unittest perfbench/test_run.py -v
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join("perfbench", "run.py")
WORKLOADS = ("machine_day", "text_ingest", "embed_ingest")
NAME = re.compile(r"^[A-Za-z0-9_.-]+$")

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, trace=0, corrupt=0, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "3",
         "--trace", str(trace), "--size", "tiny", "--corrupt", str(corrupt)],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


class BenchmarkSpec(unittest.TestCase):
    def test_metric_names_are_well_formed_and_unique(self):
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        names += [w["name"] for w in SPEC["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)

    def test_benchmark_workloads_are_runnable(self):
        for w in SPEC["workloads"]:
            self.assertIn(w["name"], WORKLOADS)


class TinyRuns(unittest.TestCase):
    def check(self, workload, trace):
        rc, result, err = run(workload, trace)
        self.assertEqual(rc, 0, err[-3000:])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], result)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
        return result["metrics"]

    def test_machine_day(self):
        m = self.check("machine_day", 0)
        self.assertEqual(m["ok_op_frac"]["value"], 1.0)
        self.assertGreater(m["setup_s"]["value"], 0)

    def test_text_ingest(self):
        m = self.check("text_ingest", 0)
        self.assertEqual(m["planted_recall"]["value"], 1.0)

    def test_embed_ingest(self):
        m = self.check("embed_ingest", 0)
        self.assertGreater(m["planted_recall"]["value"], 0.5)

    def test_traced_machine_day(self):
        m = self.check("machine_day", 1)
        self.assertGreater(m["ops.cycles.jobs"]["value"], 0)
        self.assertGreater(m["io.upsert.wall_s"]["value"], 0)

    def test_traced_text_ingest(self):
        m = self.check("text_ingest", 1)
        self.assertGreater(m["streaming.add_batch.jobs"]["value"], 0)
        self.assertGreater(m["ops.TextDedup.jobs"]["value"], 0)

    def test_traced_embed_ingest(self):
        m = self.check("embed_ingest", 1)
        self.assertGreater(m["ops.Similarity.jobs"]["value"], 0)


class CorruptedOutput(unittest.TestCase):
    """A corrupted output is counted as a failed op, never as success."""

    def test_each_workload_detects_a_corrupted_output(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, result, err = run(w, corrupt=1)
                self.assertEqual(rc, 0, err[-3000:])
                self.assertFalse(result["correct"])
                self.assertGreaterEqual(result["failed"], 1)
                self.assertLess(result["metrics"]["ok_op_frac"]["value"], 1.0)


class BareDirectory(unittest.TestCase):
    """Without the engine's sources the benchmark fails fast, printing no result."""

    def test_fails_without_the_engine(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        try:
            p = subprocess.run([sys.executable, RUN, "--workload", "machine_day", "--seed", "1",
                                "--seconds", "1", "--trace", "0"],
                               cwd=bare, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
