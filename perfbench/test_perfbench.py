#!/usr/bin/env python3
"""Seed and check tests for the benchmark. They run the real benchmark (a
short window per run), so they take a few minutes:

    python3 -m unittest perfbench/test_perfbench.py

- the same seed gives byte-identical generated inputs and identical output
  hashes;
- another seed gives different inputs with the same row counts;
- a deliberately wrong result makes failed_share non-zero.
"""
import copy
import json
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import run  # noqa: E402


def bench(workload, seed):
    """Runs one untraced benchmark run; returns (meta, result, raw JVM result)."""
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=400)
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, proc.stderr[-3000:]
    meta = json.loads(lines[-2][len("# meta "):])
    with open(ROOT / ".bench_out" / workload / "result.json") as f:
        raw = json.load(f)
    return meta, json.loads(lines[-1]), raw


def inputs(meta):
    return {i["file"]: i for i in meta["inputs"]}


class SeedTest(unittest.TestCase):
    maxDiff = None

    def check_seeds(self, workload):
        a, ra, _ = bench(workload, 7)
        b, rb, _ = bench(workload, 7)
        c, _, _ = bench(workload, 8)
        self.assertTrue(ra["correct"] and rb["correct"])
        self.assertEqual(inputs(a), inputs(b))
        self.assertEqual(a["outputs_sha256"], b["outputs_sha256"])
        self.assertEqual(a["input_rows_generated"], c["input_rows_generated"])
        for name, i in inputs(a).items():
            if name != "utilities.csv":  # the fixed dimension table
                self.assertNotEqual(i["sha256"], inputs(c)[name]["sha256"], name)

    def test_ev_dashboard_seeds(self):
        self.check_seeds("ev_dashboard")

    def test_incremental_refresh_seeds(self):
        self.check_seeds("incremental_refresh")

    def test_wrong_result_fails(self):
        _, result, raw = bench("ev_dashboard", 3)
        self.assertEqual(result["failed"], 0)
        _, attempted, failed = run.evaluate(raw)
        self.assertEqual(failed, 0)
        bad = copy.deepcopy(raw)
        bad["meta"]["duckdb"]["statements"][3]["rows"][0][1] += 1  # one count off
        _, attempted, failed = run.evaluate(bad)
        self.assertGreater(failed / attempted, 0)
        bad = copy.deepcopy(raw)
        bad["checks"][0]["ok"] = False  # a JVM-side check that failed
        _, attempted, failed = run.evaluate(bad)
        self.assertGreater(failed / attempted, 0)


if __name__ == "__main__":
    unittest.main()
