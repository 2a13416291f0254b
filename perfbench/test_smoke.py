"""Smoke tests of the benchmark: every workload at a tiny size, with its
output checks, plus the failure path. Run from the repository root:

    python3 -m unittest perfbench/test_smoke.py

The first test run builds graft and the benchmark (about a minute).
"""

import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN = ROOT / "perfbench" / "run.py"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace=0, cwd=ROOT, runner=RUN):
    return subprocess.run(
        [sys.executable, str(runner), "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        p = run(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        r = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], p.stderr[-3000:])
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        want = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(r["metrics"]), {m["name"] for m in want})
        for m in want:
            self.assertEqual(r["metrics"][m["name"]]["unit"], m["unit"])
        if not trace:
            for m in want:
                self.assertGreater(r["metrics"][m["name"]]["value"], 0, m["name"])
        return r

    def test_catalog_read(self):
        self.check("catalog-read", 0)

    def test_catalog_read_traced(self):
        r = self.check("catalog-read", 1)
        self.assertGreater(r["metrics"]["tree.node_reads_per_lookup"]["value"], 0)
        self.assertGreater(r["metrics"]["storage.cache_hit_ratio"]["value"], 0)

    def test_catalog_commit(self):
        self.check("catalog-commit", 0)

    def test_catalog_commit_traced(self):
        r = self.check("catalog-commit", 1)
        self.assertGreater(r["metrics"]["tree.nodes_written_per_commit"]["value"], 0)

    def test_spark_dml(self):
        self.check("spark-dml", 0)

    def test_query_battery(self):
        self.check("query-battery", 0)

    def test_spark(self):
        self.check("spark", 0)

    def test_spark_traced(self):
        r = self.check("spark", 1)
        for m in ("spark.jobs_per_stmt", "maintain.mv_refresh_ms",
                  "format.metadata_reads_per_stmt", "queries.dd07_dup_clusters_s"):
            self.assertGreater(r["metrics"][m]["value"], 0, m)

    def test_fails_without_sources(self):
        """With only BENCHMARK.json and perfbench/, the run fails cleanly."""
        with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(ROOT / "perfbench", Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = run("catalog-read", cwd=d, runner=Path(d) / "perfbench" / "run.py")
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
