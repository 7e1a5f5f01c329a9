"""Self-tests of the benchmark's Python side.

Run from the repo root: python3 -m unittest discover -s graftbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import datagen  # noqa: E402
import report  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


class TailPercentile(unittest.TestCase):
    def test_p90_when_ten_samples_lie_beyond_it(self):
        self.assertEqual(checks.tail_percentile(range(1, 101)), (90, 90, 100))

    def test_falls_back_to_highest_percentile_with_ten_beyond(self):
        pct, value, n = checks.tail_percentile(range(1, 51))
        self.assertEqual((pct, value, n), (80, 40, 50))
        self.assertEqual(sum(v > value for v in range(1, 51)), 10)
        # p81 sits at rank 41, with only nine samples beyond it
        self.assertEqual(checks.tail_percentile(range(1, 51), p=81)[0], 80)

    def test_none_without_enough_samples(self):
        self.assertIsNone(checks.tail_percentile(range(10)))


class SeededStreams(unittest.TestCase):
    def test_one_seed_one_oltp_stream(self):
        a = workloads.oltp_plan(7, 1500, 15000, 5)
        self.assertEqual(a, workloads.oltp_plan(7, 1500, 15000, 5))
        self.assertNotEqual(a, workloads.oltp_plan(8, 1500, 15000, 5))

    def test_one_seed_one_query_order(self):
        q = workloads.GRAPH_QUERIES
        self.assertEqual(workloads.batch_plan(q, 3, 10), workloads.batch_plan(q, 3, 10))
        self.assertNotEqual(workloads.batch_plan(q, 3, 10)[1],
                            workloads.batch_plan(q, 4, 10)[1])

    def test_oltp_blocks_share_one_mix(self):
        _, blocks = workloads.oltp_plan(1, 1500, 15000, 3)
        for b in blocks:
            kinds = [op["kind"] for op in b]
            self.assertEqual((kinds.count("read"), kinds.count("write"),
                              kinds.count("kv_put") + kinds.count("kv_get")), (12, 6, 2))

    def test_class_writes_follow_one_cycle(self):
        # so the library's every-8th-write checkpoint always hits one template
        warm, blocks = workloads.oltp_plan(2, 1500, 15000, 3)
        for cls, cycle in workloads.CYCLE.items():
            names = [op["name"] for op in warm + sum(blocks, [])
                     if op["kind"] == "write" and op["cls"] == cls]
            self.assertEqual(names, cycle * 5)

    def test_one_seed_one_table_set(self):
        self.assertEqual(datagen.tables(5, 0.0001), datagen.tables(5, 0.0001))


class Fingerprint(unittest.TestCase):
    tb = pa.table({"b": [1.0, 2.5], "a": ["x", "y"]})

    def test_same_rows_in_any_order_match(self):
        other = pa.table({"a": ["y", "x"], "b": [2.5, 1.0 + 1e-12]})
        self.assertIsNone(checks.compare_tables(self.tb, other))

    def test_perturbed_result_is_rejected(self):
        for other in (pa.table({"b": [1.0, 2.6], "a": ["x", "y"]}),
                      pa.table({"b": [1.0], "a": ["x"]}),
                      pa.table({"b": [1, 2], "a": ["x", "y"]})):
            self.assertIsNotNone(checks.compare_tables(self.tb, other))


class FailedOpsCount(unittest.TestCase):
    def test_failing_op_is_counted_not_dropped(self):
        with tempfile.TemporaryDirectory() as d:
            data, out = os.path.join(d, "data"), os.path.join(d, "out")
            os.makedirs(data)
            os.makedirs(os.path.join(out, "q1"))
            pq.write_table(pa.table({"x": [1]}), os.path.join(out, "q1", "part.parquet"))

            def rec(i, phase, ok, ms):
                return {"i": i, "phase": phase, "pass": -1 if phase == "warmup" else 0,
                        "kind": "query", "name": "q1", "ok": ok, "ms": ms,
                        "err": None if ok else "boom", "result": None}
            res = {"records": [rec(0, "warmup", True, 5.0), rec(1, "timed", False, 1.0),
                               rec(2, "timed", True, 3.0)],
                   "oracle": {"q1": "SELECT 1::BIGINT AS x"}, "check_errors": {},
                   "pass_walls": [4.0], "heap_mb": 1.0, "first_timed_us": 2_000_000,
                   "launch_us": 0, "context": {"k": 4}}
            plan = {"warmup": [{"kind": "query", "name": "q1"}]}
            v = report.check_outputs("graph_iter", plan, res, data, out)
            self.assertEqual((v["attempted"], v["failed"]), (3, 1))
            e2e, _, record = report.metrics(res, v)
            self.assertAlmostEqual(e2e["ok_frac"][0], 2 / 3)
            # the failed op's time stays in the timed samples
            self.assertEqual(record["latency_ms"]["op"]["n"], 2)

    def test_mismatch_fails_every_execution_of_the_query(self):
        with tempfile.TemporaryDirectory() as d:
            out = os.path.join(d, "out")
            os.makedirs(os.path.join(out, "q1"))
            pq.write_table(pa.table({"x": [2]}), os.path.join(out, "q1", "part.parquet"))
            recs = [{"i": i, "phase": p, "pass": 0, "kind": "query", "name": "q1",
                     "ok": True} for i, p in enumerate(["warmup", "timed", "timed"])]
            res = {"records": recs, "oracle": {"q1": "SELECT 1::BIGINT AS x"},
                   "check_errors": {}}
            v = report.check_outputs("graph_iter", {}, res, d, out)
            self.assertEqual((v["attempted"], v["failed"]), (3, 3))


class OutputLine(unittest.TestCase):
    def test_result_line_fits_the_2000_character_tail(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        for group, digits in (("end_to_end", None), ("per_layer", 6)):
            names = [m["name"] for m in spec[group]]
            # the longest value each format can print
            worst = {m["name"]: (-1.2345678901234567e-05, m["unit"]) for m in spec[group]}
            metrics = report.metric_line(worst, names, digits)
            line = json.dumps({"correct": True, "attempted": 123456, "failed": 123456,
                               "metrics": metrics}, separators=(",", ":"))
            self.assertLess(len(line), 2000, group)
            self.assertEqual(json.loads(line[-2000:])["metrics"], metrics)


if __name__ == "__main__":
    unittest.main()
