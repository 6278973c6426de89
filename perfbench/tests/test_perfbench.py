"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v    # from the repository root

`SelfTest` covers the percentile rule, the feed's start/limit parsing and
next-link resolution, the KPI calculator against the golden fixture and
the face sample. The smoke tests run every workload at tiny size, traced
and untraced, and check the result line against BENCHMARK.json.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import build  # noqa: E402
import run  # noqa: E402


class SelfTest(unittest.TestCase):
    def test_selftest(self):
        classes = build.build(ROOT, os.path.join(ROOT, ".bench_build", "perfbench"))
        work = run.fresh_workdir(ROOT, "selftest")
        p = subprocess.run(run.java_cmd(classes, work, "graft.perfbench.SelfTest", []),
                           cwd=work, capture_output=True, text=True, timeout=300)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr)
        self.assertIn("all checks passed", p.stdout)


class Smoke(unittest.TestCase):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def smoke(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], p.stderr[-3000:])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        kind = "per_layer" if trace else "end_to_end"
        self.assertEqual(set(out["metrics"]), {m["name"] for m in self.spec[kind]})
        for m in self.spec[kind]:
            v = out["metrics"][m["name"]]
            self.assertEqual(v["unit"], m["unit"])
            self.assertIsInstance(v["value"], (int, float))
            if not trace:
                self.assertGreater(v["value"], 0, m["name"])
        return out

    def test_etl_ingest(self):
        self.smoke("etl_ingest", 0)
        out = self.smoke("etl_ingest", 1)["metrics"]
        self.assertGreater(out["etl.commit_p50_ms"]["value"], 0)
        self.assertGreater(out["etl.kpi_ms"]["value"], 0)
        self.assertGreater(out["kpi.jobs"]["value"], 0)

    def test_query_mix(self):
        self.smoke("query_mix", 0)
        out = self.smoke("query_mix", 1)["metrics"]
        self.assertGreater(out["suite.jobs"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
