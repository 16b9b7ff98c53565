"""The benchmark's own tests: every workload in smoke mode, and the
refusal to run without graft's sources.

    python3 -m unittest discover -s perfbench -p 'test_*.py' -v
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def smoke(workload, trace=0):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def measured(workload, seed=3, trace=0):
    """Every metric the run measured, listed or not, from its record."""
    with open(os.path.join(ROOT, ".perfbench_out", f"result-{workload}-{seed}-t{trace}.json")) as fh:
        return json.load(fh)["metrics"]


def listed(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"] for m in json.load(fh)[kind]}


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace=0):
        rc, res, err = smoke(workload, trace)
        self.assertEqual(rc, 0, err[-3000:])
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), listed("per_layer" if trace else "end_to_end"))
        return res

    def test_query_mix(self):
        res = self.check("query_mix")
        self.assertGreater(res["metrics"]["pass_cpu_s"]["value"], 0)

    def test_lake_churn(self):
        self.check("lake_churn")

    def test_lake_churn_traced(self):
        res = self.check("lake_churn", trace=1)
        self.assertGreater(res["metrics"]["spark.jobs_per_query"]["value"], 0)
        # one writer: at most one claim attempt per commit, none retried
        self.assertGreater(res["metrics"]["sources.commit.attempts"]["value"], 0)
        self.assertLessEqual(res["metrics"]["sources.commit.attempts"]["value"], 1.0)
        self.assertEqual(res["metrics"]["sources.commit.retries"]["value"], 0)

    def test_ga_sessionize_traced(self):
        self.check("ga_sessionize", trace=1)
        layers = measured("ga_sessionize", trace=1)
        for m in ("ingest.self_s", "enrich.ua.self_s", "enrich.geo.self_s",
                  "jobs.sessionize.self_s", "jobs.sessionize.shuffle_bytes"):
            self.assertGreater(layers[m]["value"], 0, m)
        # the generator's malformed records are the ones ingest drops
        self.assertGreater(layers["ingest.rows_dropped"]["value"], 0)
        self.assertGreater(layers["enrich.geo_match_ratio"]["value"], 0)
        self.assertLess(layers["enrich.geo_match_ratio"]["value"], 1)

    def test_llm_ops(self):
        self.check("llm_ops")

    @unittest.expectedFailure
    def test_ga_daily(self):
        # fails on this commit: a geo miss makes GaPipeline.exportTable's
        # cast of geo_city_id ('(not set)') to int throw under ANSI mode
        self.check("ga_daily")


class NoSourcesTest(unittest.TestCase):
    def test_refuses_without_graft_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query_mix",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
