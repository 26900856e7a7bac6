#!/usr/bin/env python3
"""Quick test of the benchmark itself, at toy size.

    python3 perfbench/test_quick.py

Run from the root of a checkout (about five minutes on 4 CPUs). Every
workload runs at toy size (sf0.001 tables; six envelopes of history) and
must print every metric name of BENCHMARK.json, untraced and traced, with
its outputs checked correct; traced, ingest_replay must time a write to
every sink table. A deliberately corrupted result (one changed price row;
one changed query result) must trip the output check.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def bench(workload, trace=0, corrupt=0):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "toy",
         "--corrupt", str(corrupt)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} exited {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


class QuickTest(unittest.TestCase):

    def check_names(self, out, kind):
        self.assertEqual(sorted(out["metrics"]), sorted(m["name"] for m in SPEC[kind]))
        for m in SPEC[kind]:
            self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"])

    def test_every_workload_prints_every_metric(self):
        for w in (w["name"] for w in SPEC["workloads"]):
            for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    out = bench(w, trace)
                    self.assertTrue(out["correct"], out)
                    self.assertEqual(out["failed"], 0)
                    self.assertGreaterEqual(out["attempted"], 1)
                    self.check_names(out, kind)
                    if w == "ingest_replay" and trace:
                        for m in out["metrics"]:
                            if m.startswith("sink.") and m.endswith(".upsert_s"):
                                self.assertGreater(out["metrics"][m]["value"], 0, m)

    def test_corrupted_results_trip_the_check(self):
        for w in ("ingest_replay", "dashboard_reads"):
            with self.subTest(workload=w):
                out = bench(w, corrupt=1)
                self.assertFalse(out["correct"])
                self.assertGreaterEqual(out["failed"], 1)


if __name__ == "__main__":
    unittest.main()
