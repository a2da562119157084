#!/usr/bin/env python3
"""Smoke tests of the benchmark itself: a tiny traced run of every workload
in workloads.json (output checks, span writer, metric names), the DuckDB
comparison catching a wrong result, and the refusal to run outside a
checkout. Run from the root of a checkout:

    python3 perfbench/test_smoke.py

Takes a few minutes (one JVM per workload).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
import run  # noqa: E402

TINY = {"pages": 120, "entities": 60, "orders": 1500, "sample": 40, "setups": 1}


def tiny_params(path):
    with open(os.path.join(HERE, "workloads.json")) as f:
        params = json.load(f)
    for p in params.values():
        for k, v in TINY.items():
            if k in p or k in ("sample", "setups"):
                p[k] = v
    with open(path, "w") as f:
        json.dump(params, f)
    return sorted(params)


def bench(*args, cwd=ROOT, timeout=300):
    return subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=timeout)


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp(prefix="perfbench-smoke-", dir=ROOT)
        cls.params = os.path.join(cls.tmp, "tiny.json")
        cls.workloads = tiny_params(cls.params)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.declared = json.load(f)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def test_every_workload_traced(self):
        layer_names = {m["name"] for m in self.declared["per_layer"]}
        for w in self.workloads:
            with self.subTest(workload=w):
                r = bench("--workload", w, "--seed", "3", "--seconds", "1",
                          "--trace", "1", "--params", self.params)
                self.assertEqual(r.returncode, 0, r.stderr[-3000:])
                out = json.loads(r.stdout.strip().splitlines()[-1])
                self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(out["correct"], r.stderr[-3000:])
                self.assertEqual(out["failed"], 0)
                self.assertGreaterEqual(out["attempted"], 1)
                self.assertEqual(set(out["metrics"]), layer_names)
                spans_line = [l for l in r.stdout.splitlines() if "perfbench: spans " in l]
                spans = spans_line[0].split("perfbench: spans ", 1)[1]
                with open(spans) as f:
                    names = {json.loads(l)["name"] for l in f}
                self.assertIn("job", names)
                if w == "ops_headline":
                    self.assertIn("ops.kg_pipeline_triples", names)
                    self.assertGreater(out["metrics"]["ops.q01_agg.s"]["value"], 0)
                else:
                    self.assertTrue({"plan", "extract", "link", "cc", "stats"} <= names, names)
                    self.assertGreater(out["metrics"]["extract.pages"]["value"], 0)
                if w == "kg_materialized":
                    self.assertGreater(out["metrics"]["tables.write_mb"]["value"], 0)

    def test_untraced_prints_end_to_end(self):
        w = self.declared["workloads"][0]["name"]
        r = bench("--workload", w, "--seed", "4", "--seconds", "1", "--trace", "0",
                  "--params", self.params)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertTrue(out["correct"])
        self.assertEqual(set(out["metrics"]), {m["name"] for m in self.declared["end_to_end"]})

    def test_duckdb_check_flags_a_wrong_result(self):
        import pandas as pd
        data = os.path.join(self.tmp, "data", "t.parquet")
        res = os.path.join(self.tmp, "res", "q")
        os.makedirs(data)
        os.makedirs(res)
        pd.DataFrame({"x": [1, 2, 3]}).to_parquet(os.path.join(data, "part-0.parquet"))
        pd.DataFrame({"x": [1, 2, 4]}).to_parquet(os.path.join(res, "part-0.parquet"))
        files = [{"data": os.path.dirname(data)}, {"results": os.path.dirname(res)},
                 {"q": "SELECT x FROM t"}]
        self.assertEqual(len(run.duckdb_check(files)), 1)
        files[2] = {"q": "SELECT x + (x = 3)::INT AS x FROM t"}
        self.assertEqual(run.duckdb_check(files), [])

    def test_refuses_to_run_outside_a_checkout(self):
        bare = os.path.join(self.tmp, "bare")
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                            self.workloads[0], "--seed", "1", "--seconds", "1",
                            "--trace", "0"], cwd=bare, capture_output=True,
                           text=True, timeout=170)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"metrics"', r.stdout)


if __name__ == "__main__":
    unittest.main(verbosity=2)
