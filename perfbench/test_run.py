"""Tests of the benchmark's own accounting; no Spark needed.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import check
import run


def write_result(root, name, frame):
    d = os.path.join(root, name)
    os.makedirs(d)
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False),
                   os.path.join(d, "part-0.parquet"))


def harness(executions, checks):
    return {
        "setup": {"total_s": 9.0},
        "checks": checks,
        "loop": {"wall_s": 4.0, "cpu_s": 8.0, "passes": 1,
                 "executions": executions},
        "retained_heap_mb": 90.0,
    }


def execution(query, seconds=0.5, error=None):
    return {"pass": 1, "query": query, "traced": False, "seconds": seconds,
            "cycle_s": seconds, "error": error}


class CheckTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.data = os.path.join(self.tmp.name, "data")
        self.out = os.path.join(self.tmp.name, "check")
        os.makedirs(self.data)
        os.makedirs(self.out)
        pq.write_table(pa.table({"n_nationkey": [0, 1, 2], "n_name": ["A", "B", "C"]}),
                       os.path.join(self.data, "nation.parquet"))

    def tearDown(self):
        self.tmp.cleanup()

    def test_oracle_match_mismatch_and_throw(self):
        sql = "SELECT n_name, n_nationkey AS k FROM nation"
        write_result(self.out, "good", pd.DataFrame({"k": [2, 0, 1], "n_name": ["C", "A", "B"]}))
        write_result(self.out, "wrong", pd.DataFrame({"k": [0, 1, 3], "n_name": ["A", "B", "C"]}))
        got = check.check_all(self.data, self.out, [
            {"name": "good", "error": None, "sql": sql},
            {"name": "wrong", "error": None, "sql": sql},
            {"name": "threw", "error": "IllegalArgumentException: gate", "sql": sql},
        ])
        self.assertIsNone(got["good"])
        self.assertIn("values differ", got["wrong"])
        self.assertIn("threw", got["threw"])

    def test_dtype_class_mismatch_fails(self):
        write_result(self.out, "q", pd.DataFrame({"k": [0.0, 1.0, 2.0]}))
        got = check.check_all(self.data, self.out, [
            {"name": "q", "error": None, "sql": "SELECT n_nationkey AS k FROM nation"}])
        self.assertIn("dtype class", got["q"])

    def test_query_without_oracle_sql_fails(self):
        write_result(self.out, "q", pd.DataFrame({"k": [0, 1, 2]}))
        got = check.check_all(self.data, self.out, [{"name": "q", "error": None, "sql": None}])
        self.assertIn("no oracle SQL", got["q"])


class AccountingTest(unittest.TestCase):

    def test_throw_and_wrong_result_both_count_as_failed(self):
        h = harness([execution("ok"), execution("boom", error="RuntimeException: x"),
                     execution("wrong"), execution("wrong")], [])
        metrics, _, extra, attempted, failed = run.end_to_end(
            h, {"ok": None, "boom": None, "wrong": "values differ"})
        self.assertEqual((attempted, failed), (4, 3))
        self.assertEqual(extra[1][:2], ("failed_frac", 0.75))
        self.assertEqual(metrics["queries_per_s"][0], 1.0)
        self.assertEqual(metrics["setup_s"][0], 9.0)

    def test_end_to_end_metrics_are_the_gated_ones(self):
        with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
            gated = {m["name"]: m["unit"] for m in json.load(f)["end_to_end"]}
        metrics = run.end_to_end(harness([execution("ok")], []), {"ok": None})[0]
        self.assertEqual({k: u for k, (_, u) in metrics.items()}, gated)

    def test_tail_is_highest_percentile_with_ten_beyond(self):
        self.assertEqual(run.tail_latency(list(range(14))), (3, 100.0 * 4 / 14, 14))
        self.assertEqual(run.tail_latency([5, 4, 6]), (4, 0.0, 3))

    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(run.union_us([(0, 10), (5, 15), (20, 30), (40, 50)], 2, 45), 28)

    def test_spans_must_tile_the_query(self):
        q = {"id": "w:1:q", "parent": None, "name": "query", "start_us": 0, "end_us": 30}

        def kid(name, s, e):
            return {"id": "w:1:q/" + name, "parent": "w:1:q", "name": name,
                    "start_us": s, "end_us": e}
        tiled = [q, kid("queries.build", 0, 10), kid("plans.plan", 10, 20),
                 kid("exec.run", 20, 30)]
        self.assertEqual(run.span_errors(tiled), [])
        gap = [q, kid("queries.build", 0, 10), kid("plans.plan", 12, 20),
               kid("exec.run", 20, 30)]
        self.assertEqual(len(run.span_errors(gap)), 1)


if __name__ == "__main__":
    unittest.main()
