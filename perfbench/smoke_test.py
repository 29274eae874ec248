#!/usr/bin/env python3
"""Smoke test of the benchmark itself, run from the repo root:

    python3 perfbench/smoke_test.py            # checks + every workload, both modes
    python3 perfbench/smoke_test.py --quick    # output checks and metrics only (no Spark)

It runs every workload untraced and traced for a minimal measurement,
asserts the printed metrics match BENCHMARK.json, and feeds the output
checks deliberately wrong results, which must register as failures.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

ROOT = os.getcwd()


class WrongResultsFail(unittest.TestCase):
    """The checks do not trust the program: a wrong answer is a failure."""

    def test_query_result_differing_from_oracle_fails(self):
        with tempfile.TemporaryDirectory() as d:
            right = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
            wrong = right.assign(v=[0.5, 1.5, 2.5000001])
            # pass 0 is right for both keys; pass 1 (warm) is wrong for "bad"
            for i, bad_df in ((0, right), (1, wrong)):
                for key, df in (("good", right), ("bad", bad_df)):
                    os.makedirs(os.path.join(d, str(i), key))
                    df.to_parquet(os.path.join(d, str(i), key, "part-0.parquet"))
            oracle = os.path.join(d, "oracle.pkl")
            right.to_pickle(oracle)
            res = {"iterations": [{"index": i, "check": {"check_dir": os.path.join(d, str(i))}}
                                  for i in (0, 1)],
                   "ops": [{"iter": i, "name": k, "error": ""}
                           for i in (0, 1) for k in ("good", "bad")]}
            bad = run.check_queries(res, {"good": oracle, "bad": oracle})
            self.assertEqual(set(bad), {(1, "bad")})

    def test_query_without_output_fails(self):
        with tempfile.TemporaryDirectory() as d:
            res = {"iterations": [{"index": 0, "check": {"check_dir": d}}],
                   "ops": [{"iter": 0, "name": "missing", "error": ""}]}
            oracle = os.path.join(d, "oracle.pkl")
            pd.DataFrame({"k": [1]}).to_pickle(oracle)
            self.assertIn((0, "missing"), run.check_queries(res, {"missing": oracle}))
            self.assertIn((0, "missing"), run.check_queries(res, {}))

    def test_dag_iteration_that_changes_its_output_fails(self):
        with tempfile.TemporaryDirectory() as d:
            iters = []
            for i, total in enumerate((10, 10, 11)):
                gold = os.path.join(d, f"lake{i}", "gold", "t")
                os.makedirs(gold)
                pd.DataFrame({"total": [total]}).to_parquet(
                    os.path.join(gold, "part-0.parquet"))
                iters.append({"index": i, "check": {
                    "lake": os.path.join(d, f"lake{i}"), "dq_passed": "true",
                    "analytics.q.0": "h", "analytics.q.1": "h"}})
            iters.append({"index": 3, "check": dict(iters[0]["check"], dq_passed="false")})
            iters.append({"index": 4, "check": dict(iters[0]["check"],
                                                    **{"analytics.q.0": "x", "analytics.q.1": "x"})})
            # one of the repeated reads disagrees with the others
            iters.append({"index": 5, "check": dict(iters[0]["check"], **{"analytics.q.1": "x"})})
            self.assertEqual(set(run.check_retail({"iterations": iters})), {2, 3, 4, 5})

    def test_wrong_curation_output_fails(self):
        docs = pd.read_parquet(os.path.join(run.DATA, run.WORKLOADS["operator_queries"],
                                            "documents.parquet"), columns=["doc_id", "lang"])
        with tempfile.TemporaryDirectory() as d:
            def check(manifest, counts="ingest=5,a=4,b=3", dq="true"):
                path = os.path.join(d, f"m{len(os.listdir(d))}")
                os.makedirs(path)
                manifest.to_parquet(os.path.join(path, "part-0.parquet"))
                return run.check_curation({"manifest": path, "curation_dq_passed": dq,
                                           "stage_counts": counts})
            good = docs.head(3).assign(shuffle_key=[1, 2, 3])
            self.assertIsNone(check(good))
            self.assertIsNotNone(check(good, dq="false"))
            self.assertIsNotNone(check(good, counts="ingest=5,a=3,b=4"))
            self.assertIsNotNone(check(good.head(2)))
            self.assertIsNotNone(check(good.assign(doc_id=[docs.doc_id[0]] * 3)))
            self.assertIsNotNone(check(good.assign(shuffle_key=[3, 2, 1])))
            self.assertIsNotNone(check(good.assign(lang="xx")))
            self.assertIsNotNone(run.check_curation({}))


class Metrics(unittest.TestCase):
    def test_query_gmean_is_over_per_query_medians_of_warm_ops(self):
        res = {"setup_s": 1.0, "heap_peak_mb": 1.0,
               "iterations": [{"index": 0, "kind": "cold", "seconds": 9.0},
                              {"index": 1, "kind": "warm", "seconds": 3.0},
                              {"index": 2, "kind": "warm", "seconds": 5.0}],
               "ops": [{"iter": 0, "name": "a", "seconds": 100.0},
                       {"iter": 1, "name": "Pipeline.run", "seconds": 2.0},
                       {"iter": 1, "name": "a", "seconds": 1.0},
                       {"iter": 2, "name": "a", "seconds": 3.0},
                       {"iter": 1, "name": "b", "seconds": 8.0},
                       {"iter": 2, "name": "b", "seconds": 8.0}]}
        m, n = run.end_to_end(res)
        self.assertEqual(n, 4)
        self.assertAlmostEqual(m["query_gmean_s"], 4.0)  # sqrt(median(1, 3) * 8)
        self.assertEqual((m["first_iter_s"], m["iter_s"]), (9.0, 4.0))


def run_bench(workload, trace, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(run.BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=900)


class Workloads(unittest.TestCase):
    """Every workload, untraced and traced, prints its metrics by name."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def test_spec_matches_runner(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(run.WORKLOADS))
        for key, units in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
            self.assertEqual({m["name"]: m["unit"] for m in self.spec[key]}, units)

    def test_every_workload_both_modes(self):
        for w in run.WORKLOADS:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    p = run_bench(w, trace)
                    self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                    out = json.loads(p.stdout.strip().splitlines()[-1])
                    self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(out["correct"], p.stderr[-3000:])
                    self.assertEqual(out["failed"], 0)
                    want = {m["name"]: m["unit"] for m in self.spec[key]}
                    self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, want)
                    if trace == 0:
                        self.assertTrue(all(v["value"] > 0 for v in out["metrics"].values()))

    def test_refuses_to_run_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            os.symlink(run.BENCH, os.path.join(d, "perfbench"))
            p = run_bench(next(iter(run.WORKLOADS)), 0, cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    quick = "--quick" in sys.argv
    if quick:
        sys.argv.remove("--quick")
    suite = unittest.defaultTestLoader.loadTestsFromTestCase(WrongResultsFail)
    suite.addTests(unittest.defaultTestLoader.loadTestsFromTestCase(Metrics))
    if not quick:
        suite.addTests(unittest.defaultTestLoader.loadTestsFromTestCase(Workloads))
    sys.exit(0 if unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful() else 1)
