"""Tests of the benchmark itself: a tiny sf0.001 smoke of every workload.

    python3 -m unittest discover -s perfbench/tests

Each smoke run builds on first use (sbt), then takes about half a
minute. The tests check that every end-to-end and per-layer metric is
printed with its unit, that a correct run is reported correct, and that
a planted wrong result is counted as failed.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.dont_write_bytecode = True
sys.path.insert(0, BENCH)
import run  # noqa: E402


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=1200)


def smoke(workload, trace, *extra):
    return bench("--workload", workload, "--seed", "7", "--seconds", "2",
                 "--trace", str(trace), "--smoke", *extra)


class SmokeTest(unittest.TestCase):
    def result(self, p):
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(res["attempted"], 1)
        return res

    def check_metrics(self, res, units):
        self.assertEqual(set(res["metrics"]), set(units))
        for name, m in res["metrics"].items():
            self.assertEqual(m["unit"], units[name], name)
            self.assertIsInstance(m["value"], float, name)

    def check_workload(self, workload):
        res = self.result(smoke(workload, 0))
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.check_metrics(res, run.END_TO_END)
        for name in run.END_TO_END:
            self.assertGreater(res["metrics"][name]["value"], 0, name)
        p = smoke(workload, 1)
        res = self.result(p)
        self.assertTrue(res["correct"])
        self.check_metrics(res, run.PER_LAYER)
        spans = [l.split("span file: ", 1)[1] for l in p.stdout.splitlines() if "span file: " in l]
        self.assertEqual(len(spans), 1)
        with open(os.path.join(ROOT, spans[0])) as f:
            records = [json.loads(l) for l in f]
        self.assertTrue(any(r["name"] == "op" and r["parent"] is None for r in records))
        for r in records:
            self.assertLessEqual(r["start_ms"], r["end_ms"])
            self.assertEqual(set(r), {"op_id", "name", "label", "parent", "start_ms", "end_ms",
                                      "self_ms"})

    def test_queries_short(self):
        self.check_workload("queries_short")

    def test_queries_iterative(self):
        self.check_workload("queries_iterative")

    def test_etl_incremental(self):
        self.check_workload("etl_incremental")

    def test_planted_wrong_query_result_is_failed(self):
        res = self.result(smoke("queries_short", 0, "--plant-wrong"))
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)

    def test_planted_wrong_fact_row_is_failed(self):
        res = self.result(smoke("etl_incremental", 0, "--plant-wrong"))
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)


class DefinitionTest(unittest.TestCase):
    def test_benchmark_json_matches_the_printed_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        for w in spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)

    def test_frozen_lists_are_not_empty(self):
        for name in ("queries_short", "queries_iterative"):
            with open(os.path.join(BENCH, run.WORKLOADS[name]["list"])) as f:
                names = [l.strip() for l in f if l.strip() and not l.startswith("#")]
            self.assertGreater(len(names), 0)
            self.assertEqual(len(names), len(set(names)))

    def test_fails_fast_without_the_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        def build_outputs(d, names):  # what .gitignore leaves out of a checkout
            return [n for n in names if n in ("target", "__pycache__")
                    or (n == "project" and os.path.basename(d) == "project")]
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"), ignore=build_outputs)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            p = bench("--workload", "queries_short", "--seed", "1", "--seconds", "1",
                      "--trace", "0", cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            last = p.stdout.strip().splitlines()[-1:] or [""]
            self.assertFalse(last[0].startswith("{"))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
