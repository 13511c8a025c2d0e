#!/usr/bin/env python3
"""Tests of the benchmark itself, on tiny inputs (--smoke). Run from the
root of a checkout:

    python3 perfbench/test_smoke.py

They show that every declared metric is printed with its unit, that each
correctness check fails on a deliberately corrupted input or response
(and the DuckDB query oracle on an altered result),
that the same seed reproduces identical inputs, and that the command
fails without printing a result where there is no program to build.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.getcwd()
RUN = [sys.executable, os.path.join("perfbench", "run.py")]
WORKLOADS = ("etl_trickle", "etl_backfill", "analyst_serve")


def bench(*args, cwd=ROOT):
    p = subprocess.run(RUN + list(args), cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    context = json.loads(lines[-2])["context"] if len(lines) > 1 else None
    return p.returncode, result, context


def smoke(workload, seed, trace=0, corrupt=False):
    args = ["--workload", workload, "--seed", str(seed), "--seconds", "4",
            "--trace", str(trace), "--smoke"]
    return bench(*(args + (["--corrupt"] if corrupt else [])))


class SmokeTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        cls.e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
        cls.layers = {m["name"]: m["unit"] for m in b["per_layer"]}

    def assert_metrics(self, result, declared):
        self.assertEqual(set(result["metrics"]), set(declared))
        for name, unit in declared.items():
            m = result["metrics"][name]
            self.assertEqual(m["unit"], unit, name)
            self.assertIsInstance(m["value"], (int, float), name)

    def test_traced_run_is_correct_and_emits_every_per_layer_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, result, context = smoke(w, seed=7, trace=1)
                self.assertEqual(rc, 0)
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0)
                self.assertGreaterEqual(result["attempted"], 1)
                self.assert_metrics(result, self.layers)
                self.assertTrue(os.path.exists(context["trace_file"]))

    def test_corrupted_input_fails_the_check_and_still_emits_every_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, result, _ = smoke(w, seed=7, corrupt=True)
                self.assertEqual(rc, 1)
                self.assertFalse(result["correct"])
                self.assertGreater(result["failed"], 0)
                self.assert_metrics(result, self.e2e)
                for name in self.e2e:
                    self.assertGreater(result["metrics"][name]["value"], 0, name)

    def test_same_seed_reproduces_identical_inputs(self):
        digests = {seed: smoke("etl_trickle", seed)[2]["input_digest"] for seed in (3, 4)}
        self.assertEqual(smoke("etl_trickle", 3)[2]["input_digest"], digests[3])
        self.assertNotEqual(digests[3], digests[4])

    def test_query_oracle_flags_an_altered_result(self):
        import duckdb
        sys.path.insert(0, os.path.join(ROOT, "perfbench"))
        import oracle
        d = os.path.join(ROOT, ".bench_build", "oracle-test")
        shutil.rmtree(d, ignore_errors=True)
        for sub in ("documents.parquet", "good", "bad"):
            os.makedirs(os.path.join(d, sub))
        try:
            con = duckdb.connect()
            con.execute(f"COPY (SELECT range AS doc_id, repeat('a ', range::INT) AS text "
                        f"FROM range(5)) TO '{d}/documents.parquet/p.parquet'")
            sql = "SELECT doc_id, length(text) AS n FROM documents ORDER BY doc_id"
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'")
            con.execute(f"COPY ({sql}) TO '{d}/good/p.parquet'")
            con.execute(f"COPY (SELECT doc_id, n + (doc_id = 3)::INT AS n FROM ({sql})) "
                        f"TO '{d}/bad/p.parquet'")
            log = os.path.join(d, "queries.json")
            with open(log, "w") as f:
                json.dump({"documents": f"{d}/documents.parquet", "queries": [
                    {"name": r, "result": f"{d}/{r}", "sql": sql} for r in ("good", "bad")]}, f)
            bad, notes = oracle.check_queries(log)
            self.assertEqual(bad, 1)
            self.assertIn("good: 5 rows, equal to", notes[0])
            self.assertIn("bad: 5 rows, DIFFER from", notes[1])
        finally:
            shutil.rmtree(d, ignore_errors=True)

    def test_fails_without_a_result_where_there_is_no_program(self):
        bare = os.path.join(ROOT, ".bench_build", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            rc, result, _ = bench("--workload", "etl_trickle", "--seed", "1",
                                  "--seconds", "4", "--trace", "0", cwd=bare)
            self.assertNotEqual(rc, 0)
            self.assertIsNone(result)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
