"""Tests for the benchmark itself (no Spark run needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_hundred_samples_is_p90_with_ten_beyond(self):
        self.assertEqual(metrics.tail(list(range(1, 101))), (90, 90.0, 100, 10))

    def test_two_hundred_samples_climbs_to_p95(self):
        self.assertEqual(metrics.tail(list(range(1, 201))), (190, 95.0, 200, 10))

    def test_thousand_samples_climbs_to_p99(self):
        self.assertEqual(metrics.tail(list(range(1, 1001))), (990, 99.0, 1000, 10))

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_too_few_samples_report_p90_and_how_many_lie_beyond(self):
        # 12 samples: nearest-rank p90 is the 11th, one sample beyond it
        self.assertEqual(metrics.tail([float(x) for x in range(12)]), (10.0, 90.0, 12, 1))
        self.assertEqual(metrics.tail([3.0]), (3.0, 90.0, 1, 0))

    def test_ties_do_not_count_as_beyond(self):
        value, pct, n, beyond = metrics.tail([1.0] * 95 + [2.0] * 105)
        self.assertEqual((value, beyond), (2.0, 0))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.tail([])


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            pa = gen.generate(5, a)
            pb = gen.generate(5, b)
            gen.generate(6, c)
            self.assertEqual(gen.digest(a), gen.digest(b))
            self.assertNotEqual(gen.digest(a), gen.digest(c))
            self.assertEqual(pa, pb)

    def test_stated_properties(self):
        with tempfile.TemporaryDirectory() as d:
            p = gen.generate(5, d)
        self.assertEqual(p["dup"]["docs"], p["distinct"]["docs"])
        self.assertEqual(p["dup"]["vectors"], p["distinct"]["vectors"])
        self.assertEqual(p["distinct"]["distinct_texts"], p["distinct"]["docs"])
        self.assertEqual(p["distinct"]["exact_dup_share"], 0.0)
        self.assertGreater(p["dup"]["exact_dup_share"], 0.2)
        self.assertGreater(p["dup"]["near_dup_share"], 0.1)
        self.assertGreater(p["ledger"]["planted_gaps"], 0)
        self.assertGreater(p["ledger"]["planted_overlaps"], 0)
        self.assertEqual(p["ingest"]["replay_share"], 0.25)
        self.assertNotEqual(p["confirm_seed"], p["seed"])


def _layer(name, kind):
    keys = ["wall_ms", "span_ms", "analysis_ms", "optimization_ms", "planning_ms",
            "codegen_ms", "plans", "jobs", "stages", "tasks", "jobs_wall_ms", "critical_ms",
            "driver_ms", "nonspark_ms", "task_run_ms", "cpu_ms", "gc_ms", "shuffle_write_b",
            "fetch_wait_ms", "spill_b", "peak_task_mem_b", "output_b", "slot_util",
            "max_task_share", "files_read", "rows_scanned", "batches", "batch_input_rows",
            "batch_dropped_rows", "batch_ms", "add_batch_ms", "commit_ms", "stream_planning_ms"]
    x = {k: 1.0 for k in keys}
    x.update(name=name, kind=kind, wall_ms=10.0, jobs_wall_ms=4.0, driver_ms=3.0, nonspark_ms=3.0)
    return x


def _phase():
    kinds = {op: ("read" if op in metrics.LEDGER_READS else
                  "write" if op in metrics.LEDGER_WRITES else "maint") for op in metrics.API_OPS}
    ops = [{"name": op, "kind": kinds[op], "ms": 10.0 + i, "ok": True, "rows": 1, "user_b": 100}
           for i, op in enumerate(metrics.API_OPS)]
    layers = [_layer(op, kinds[op]) for op in metrics.API_OPS]
    layers += [_layer(f"query.{q}", "query") for q in metrics.CURATION_QUERIES]
    passes = [{"wall_s": 2.0, "queries": {q: 0.5 for q in metrics.CURATION_QUERIES}}]
    return {"ops": ops, "passes": passes, "ledger_s": 5.0, "layers": layers,
            "layout": {"files": 40, "partitions": 31, "bytes": 1000}}


class DeclaredMetrics(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)
        cls.result = {"setup_reps_s": [3.0, 1.0, 2.0], "peak_rss_mb": 900.0, "cores": 4,
                      "layout": {"files": 40, "partitions": 31, "bytes": 1000}}

    def test_end_to_end_names_and_units(self):
        e2e, _ = metrics.end_to_end(self.result, _phase(), 100, 400)
        declared = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        self.assertEqual(set(e2e), set(declared))
        for name, (_, unit) in e2e.items():
            self.assertEqual(unit, declared[name], name)

    def test_per_layer_names_and_units(self):
        e2e, _ = metrics.end_to_end(self.result, _phase(), 100, 400)
        layers = metrics.per_layer(self.result, _phase(), e2e, e2e, 14.0)
        declared = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        self.assertEqual(set(layers), set(declared))
        for name, (_, unit) in layers.items():
            self.assertEqual(unit, declared[name], name)

    def test_self_time_coverage_is_exact_for_a_partition(self):
        self.assertEqual(metrics.self_time_gap(_phase()["layers"]), 0.0)

    def test_python_and_scala_agree_on_the_query_set(self):
        with open(os.path.join(BENCH, "scala", "perfbench", "Main.scala")) as f:
            src = f.read()
        block = re.search(r"val curationQueries: Seq\[String\] = Seq\(([^)]*)\)", src).group(1)
        self.assertEqual(re.findall(r'"([^"]+)"', block), metrics.CURATION_QUERIES)


if __name__ == "__main__":
    unittest.main()
