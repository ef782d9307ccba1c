"""Smoke test of the pipeline benchmark at a tiny scale.

Run from the repository root:

    python3 -m unittest discover -s pipebench/tests

Each workload runs once, traced, at 1/50 of its benchmark size: the run must
exit 0, report a correct final sink state and every per-layer metric. A copy
of the benchmark without the program sources must fail without a result.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


def run(cwd, workload, trace, scale="0.02"):
    return subprocess.run(
        [sys.executable, "pipebench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", scale],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=1200)


class SmokeTest(unittest.TestCase):
    def test_every_workload_traced(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        per_layer = {m["name"] for m in spec["per_layer"]}
        for w in ["pg_hot_upsert", "parquet_trickle", "dms_jdbc_typed", "pg_doc_admission"]:
            with self.subTest(workload=w):
                r = run(ROOT, w, 1)
                self.assertEqual(r.returncode, 0, r.stderr[-3000:])
                out = json.loads(r.stdout.strip().splitlines()[-1])
                self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(out["correct"])
                self.assertEqual(out["failed"], 0)
                self.assertEqual(set(out["metrics"]), per_layer)
                self.assertEqual(out["metrics"]["state_mismatch_rows"]["value"], 0)

    def test_untraced_reports_end_to_end(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        r = run(ROOT, "pg_hot_upsert", 0)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out["metrics"]), {m["name"] for m in spec["end_to_end"]})
        self.assertTrue(all(m["value"] > 0 for m in out["metrics"].values()))

    def test_fails_without_program_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "smoke-bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(BENCH, os.path.join(bare, "pipebench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            r = run(bare, "pg_hot_upsert", 0)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
