#!/usr/bin/env python3
"""The benchmark's own tests: every workload briefly, on small base tables.

Usage (from the repository root; takes a few minutes, one JVM per run):
  python3 -m unittest perfbench/test_perfbench.py
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import unittest

import pyarrow.parquet as pq

ROOT = os.getcwd()
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import run  # noqa: E402

SF = "0.001"
WORKLOADS = ("ingest_stream", "olap_refresh")
_runs = {}


def bench(workload, seed=1, trace=0):
    """Run one workload briefly (memoized); return (result line, record)."""
    key = (workload, seed, trace)
    if key not in _runs:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
             "--seconds", "2", "--trace", str(trace), "--sf", SF, "--keep-work"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        assert p.returncode == 0, p.stderr[-3000:]
        lines = p.stdout.strip().splitlines()
        record = json.loads(lines[-2][len("perfbench record: "):])
        _runs[key] = (json.loads(lines[-1]), record)
    return _runs[key]


class BenchmarkTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def test_every_metric_prints_with_its_unit(self):
        for wl in WORKLOADS:
            for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
                res, _ = bench(wl, trace=trace)
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(res["correct"])
                self.assertGreaterEqual(res["attempted"], 1)
                self.assertEqual(res["failed"], 0)
                want = {m["name"]: m["unit"] for m in self.spec[kind]}
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                self.assertEqual(got, want, (wl, kind))
                if trace == 0:
                    for k, v in res["metrics"].items():
                        self.assertGreater(v["value"], 0, (wl, k))

    def test_spans_nest_and_self_times_add_up(self):
        for wl in WORKLOADS:
            _, record = bench(wl, trace=1)
            with open(os.path.join(ROOT, record["spans_file"])) as f:
                spans = {s["id"]: s for s in map(json.loads, f)}
            kids = {}
            for s in spans.values():
                kids.setdefault(s["parent"], []).append(s)
                if s["parent"]:
                    p = spans[s["parent"]]
                    self.assertGreaterEqual(s["start_ms"], p["start_ms"] - 0.01, s)
                    self.assertLessEqual(s["end_ms"], p["end_ms"] + 0.01, s)

            def subtree_self(s):
                return s["self_ms"] + sum(subtree_self(c) for c in kids.get(s["id"], []))
            for s in spans.values():
                self.assertAlmostEqual(subtree_self(s), s["dur_ms"], delta=0.01 + 0.001 * s["dur_ms"])
            coverage = record["layers"]["queries.coverage" if wl == "olap_refresh" else "etl.coverage"]
            self.assertGreaterEqual(coverage, 0.9)

    def test_seed_changes_order_and_split_but_not_results(self):
        for wl, field in (("olap_refresh", "first_cycle_order"), ("ingest_stream", "live_split_hash")):
            _, a = bench(wl, seed=1)
            _, b = bench(wl, seed=2)
            self.assertNotEqual(a[field], b[field], wl)
            self.assertEqual(a["gate_hashes"], b["gate_hashes"], wl)
            self.assertFalse(a["gate_failed"] or b["gate_failed"])

    def test_corrupted_result_trips_the_gate(self):
        bench("ingest_stream")
        work = glob.glob(os.path.join(run.OUT, "runs", "ingest_stream-s1-t0-*"))[-1]
        gate = os.path.join(run.OUT, "corrupted-gate")
        shutil.rmtree(gate, ignore_errors=True)
        shutil.copytree(os.path.join(work, "gate"), gate)
        with open(os.path.join(gate, "oracle_sql.json")) as f:
            oracles = json.load(f)
        fact = glob.glob(os.path.join(gate, "etl_fact_sales", "*.parquet"))[0]
        t = pq.read_table(fact)
        pq.write_table(t.slice(1), fact)  # one fact row dropped
        sf_dir = run.base_tables(float(SF))
        bad, _ = run.gate(sf_dir, gate, oracles)
        self.assertEqual(bad, ["etl_fact_sales"])


if __name__ == "__main__":
    unittest.main()
