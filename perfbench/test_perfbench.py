#!/usr/bin/env python3
"""The benchmark's own tests:

    python3 perfbench/test_perfbench.py          (from the root of a checkout)

The fast tests cover the oracle compare and the metric lists. The slow ones
run each workload at its benchmark size with one expected value corrupted
(--inject) and require the run to come back as failed operations with
correct=false, not as a fast run; set PERFBENCH_FAST=1 to skip them.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import oracle  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_work", "tests")


def run_bench(*args, cwd=ROOT):
    proc = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None), proc.stderr, \
        (json.loads(lines[-2]) if len(lines) > 1 else None)


class OracleCompare(unittest.TestCase):
    def setUp(self):
        import duckdb
        shutil.rmtree(SCRATCH, ignore_errors=True)
        self.tables = os.path.join(SCRATCH, "tables")
        self.results = os.path.join(SCRATCH, "results")
        os.makedirs(os.path.join(self.tables, "documents.parquet"))
        os.makedirs(os.path.join(self.results, "q"))
        con = duckdb.connect()
        con.sql("COPY (SELECT i AS doc_id, 'w' || (i % 3) AS text FROM range(10) t(i)) "
                f"TO '{self.tables}/documents.parquet/part-0.parquet' (FORMAT PARQUET)")
        con.sql("COPY (SELECT text, count(*) AS n FROM "
                f"read_parquet('{self.tables}/documents.parquet/*.parquet') GROUP BY text) "
                f"TO '{self.results}/q/part-0.parquet' (FORMAT PARQUET)")
        self.sql = {"q": "SELECT count(*) AS n, text FROM documents GROUP BY text ORDER BY text"}

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_matching_result_passes_in_any_column_and_row_order(self):
        self.assertEqual(oracle.compare(self.tables, self.results, self.sql), {"q": None})

    def test_corrupted_oracle_row_is_a_failure(self):
        why = oracle.compare(self.tables, self.results, self.sql, corrupt="q")["q"]
        self.assertIn("rows differ", why)

    def test_missing_result_is_a_failure(self):
        shutil.rmtree(os.path.join(self.results, "q"))
        self.assertIsNotNone(oracle.compare(self.tables, self.results, self.sql)["q"])

    def test_values_compare_to_ten_significant_digits(self):
        self.assertEqual(oracle.norm_cell(0.1 + 0.2), oracle.norm_cell(0.3))
        self.assertNotEqual(oracle.norm_cell(1.0000001), oracle.norm_cell(1.0))


class MetricLists(unittest.TestCase):
    def test_layer_map_covers_exactly_the_per_layer_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        with open(os.path.join(HERE, "layers.json")) as f:
            layers = json.load(f)["layers"]
        mapped = [m for layer in layers for m in layer["metrics"]]
        self.assertEqual(sorted(mapped), sorted(m["name"] for m in spec["per_layer"]))
        workloads = {w["name"] for w in spec["workloads"]}
        for layer in layers:
            self.assertTrue(set(layer["workloads"]) <= workloads, layer["layer"])

    def test_without_the_program_the_benchmark_fails_without_a_result(self):
        bare = os.path.join(SCRATCH, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            code, line, _, _ = run_bench("--workload", "pipeline_fused", "--seed", "1",
                                      "--seconds", "1", "--trace", "0", cwd=bare)
            self.assertNotEqual(code, 0)
            self.assertIsNone(line)
        finally:
            shutil.rmtree(SCRATCH, ignore_errors=True)


@unittest.skipIf(os.environ.get("PERFBENCH_FAST"), "PERFBENCH_FAST is set")
class InjectedFaults(unittest.TestCase):
    """A corrupted expected value must surface as failed operations."""

    def assert_failed(self, workload, fault, expect, trace="0"):
        code, line, err, report = run_bench("--workload", workload, "--seed", "7", "--seconds", "1",
                                            "--trace", trace, "--inject", fault)
        self.assertEqual(code, 0, err[-2000:])
        self.assertFalse(line["correct"])
        self.assertGreater(line["failed"], 0)
        self.assertLessEqual(line["failed"], line["attempted"])
        self.assertTrue(any(expect in f for f in report["failures"]), report["failures"])

    def test_golden_text(self):
        self.assert_failed("pipeline_fused", "golden", "golden parity")

    def test_resume_digest(self):
        self.assert_failed("pipeline_fused", "digest", "resumed output digest", trace="1")

    def test_oracle_row(self):
        self.assert_failed("curation_board", "oracle", "vs oracle")

    def test_clean_traced_run_is_correct(self):
        code, line, err, _ = run_bench("--workload", "pipeline_fused", "--seed", "7", "--seconds", "1",
                                       "--trace", "1")
        self.assertEqual(code, 0, err[-2000:])
        self.assertTrue(line["correct"], line)
        self.assertGreater(line["metrics"]["align.self_s"]["value"], 0)
        self.assertEqual(line["metrics"]["resume.recompute_ratio"]["value"], 1.0)


if __name__ == "__main__":
    unittest.main()
