#!/usr/bin/env python3
"""Self-tests of the benchmark: smoke runs (sf0.001, one query per
workload) must honour the output contract, and a directory holding only
the benchmark must fail fast without printing a result.

Run from the root of a graft checkout:  python3 perfbench/test_bench.py
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(args, cwd=ROOT):
    return subprocess.run([sys.executable, str(Path(cwd) / "perfbench" / "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


class SmokeTest(unittest.TestCase):

    def check(self, trace, wanted):
        for w in SPEC["workloads"]:
            r = run(["--workload", w["name"], "--seed", "7", "--seconds", "1",
                     "--trace", str(trace), "--smoke"])
            self.assertEqual(r.returncode, 0, r.stderr[-3000:])
            res = json.loads(r.stdout.strip().splitlines()[-1])
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(res["correct"], r.stderr[-3000:])
            self.assertEqual(res["failed"], 0)
            self.assertGreaterEqual(res["attempted"], 2)
            self.assertEqual(set(res["metrics"]), {m["name"] for m in wanted})
            for m in wanted:
                self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"], m["name"])

    def test_end_to_end(self):
        self.check(0, SPEC["end_to_end"])

    def test_per_layer(self):
        self.check(1, SPEC["per_layer"])


class BareDirectoryTest(unittest.TestCase):

    def test_fails_without_the_engine(self):
        bare = ROOT / ".bench_build" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for p in SPEC["paths"]:
            shutil.copytree(ROOT / p, bare / p)
        r = run(["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                 "--seconds", str(SPEC["run_seconds"]), "--trace", "0"], cwd=bare)
        shutil.rmtree(bare)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"metrics"', r.stdout)


if __name__ == "__main__":
    unittest.main()
