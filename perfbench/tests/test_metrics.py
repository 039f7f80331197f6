"""Unit tests of the benchmark's metric helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def span(i, name, parent, start, end, attrs=None):
    return {"id": i, "name": name, "parent": parent, "op": 0, "pass": 0,
            "start_ms": start, "end_ms": end, "attrs": attrs or {}}


class Helpers(unittest.TestCase):
    def test_percentile_interpolates(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.percentile(xs, 50), 3)
        self.assertEqual(metrics.percentile(xs, 0), 1)
        self.assertEqual(metrics.percentile(xs, 100), 5)
        self.assertAlmostEqual(metrics.percentile(xs, 80), 4.2)
        self.assertAlmostEqual(metrics.percentile([10.0, 20.0], 80), 18.0)
        self.assertEqual(metrics.percentile([7], 80), 7)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_harmonic_rate_is_graph500_teps(self):
        # 1 / mean(t_i / e_i): runs of 100 edges in 1 s and 300 edges in 1 s
        self.assertAlmostEqual(metrics.harmonic_rate([1.0, 1.0], [100, 300]),
                               2 / (1 / 100 + 1 / 300))
        self.assertAlmostEqual(metrics.harmonic_rate([2.0], [10]), 5.0)

    def test_union_length_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_over_nested_spans(self):
        spans = [span(0, "protocol", -1, 0, 100),
                 span(1, "gen", 0, 10, 30),
                 span(2, "validate", 0, 40, 90),
                 span(3, "inner", 2, 50, 60),
                 span(4, "inner", 2, 55, 70)]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 100 - 20 - 50)
        self.assertEqual(st[1], 20)
        self.assertEqual(st[2], 50 - 20)  # children overlap: union is 50..70
        self.assertEqual(st[3], 10)

    def test_jobs_go_to_the_innermost_open_span(self):
        spans = [span(0, "protocol", -1, 0, 100),
                 span(1, "validate", 0, 40, 90)]
        self.assertEqual(metrics.attribute(spans, 45)["id"], 1)
        self.assertEqual(metrics.attribute(spans, 10)["id"], 0)
        self.assertIsNone(metrics.attribute(spans, 100))

    def test_driver_time_is_wall_minus_job_union(self):
        raw = {"passes": [{"pass": 0, "wall_s": 0.1}],
               "spans": [span(0, "op", -1, 0, 100, {"family": "rel", "name": "q"}),
                         span(1, "build", 0, 0, 40),
                         span(2, "exec", 0, 40, 100)],
               "trace": {"jobs": [{"job": 0, "start_ms": 10, "end_ms": 30},
                                  {"job": 1, "start_ms": 50, "end_ms": 80},
                                  {"job": 2, "start_ms": 60, "end_ms": 90}],
                         "stages": [{"stage": 0, "job": 1, "tasks": 4,
                                     "run_ms": 0, "cpu_ns": 2e9, "gc_ms": 0,
                                     "shuffle_write_bytes": 3e6,
                                     "spill_bytes": 0}],
                         "plans": [{"at_ms": 95, "plan_ms": 7}],
                         "progress": []}}
        m = metrics.per_layer(raw)
        self.assertAlmostEqual(m["ops.rel.wall_s"], 0.1)
        self.assertAlmostEqual(m["ops.rel.build_s"], 0.04)
        self.assertAlmostEqual(m["ops.rel.driver_s"], (100 - 20 - 40) / 1e3)
        self.assertEqual(m["ops.rel.jobs"], 3)
        self.assertEqual(m["ops.rel.tasks"], 4)
        self.assertAlmostEqual(m["ops.rel.task_cpu_s"], 2.0)
        self.assertAlmostEqual(m["ops.rel.shuffle_write_mb"], 3.0)
        self.assertEqual(m["ops.rel.plan_ms"], 7)
        self.assertEqual(m["ops.tx.jobs"], 0)


class FailedOperations(unittest.TestCase):
    def raw(self):
        return {"workload": "surface", "setup_s": 1.0, "heap_peak_mb": 10.0,
                "passes": [{"pass": 0, "wall_s": 3.0}],
                "ops": [{"pass": 0, "name": "a", "ok": True, "ms": 100.0,
                         "work": 1.0, "error": ""},
                        {"pass": 0, "name": "b", "ok": False, "ms": math.nan,
                         "work": 0.0, "error": "boom"},
                        {"pass": 0, "name": "c", "ok": True, "ms": 300.0,
                         "work": 1.0, "error": ""}],
                "checks": {"validation_errors": 0, "max_nedge": 0,
                           "golden_nedge": None}}

    def test_thrown_operation_is_failed_and_untimed(self):
        problems, attempted, failed, e2e = run.summarize(self.raw(), None, {})
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(e2e["samples"], 2)
        self.assertEqual(e2e["op_ms_p50"], 200.0)
        self.assertTrue(problems)

    def test_oracle_mismatch_fails_every_execution(self):
        problems, attempted, failed, e2e = run.summarize(
            self.raw(), None, {"c": "1 rows != oracle 2"})
        self.assertEqual(failed, 2)
        self.assertEqual(e2e["samples"], 1)
        self.assertEqual(e2e["op_ms_p50"], 100.0)


class EndToEnd(unittest.TestCase):
    def raw(self, workload):
        ops = [{"pass": p, "name": f"bfs_root_{i}", "ok": True, "ms": ms,
                "work": 10.0, "error": "", "bfs_ms": ms / 2}
               for p, ms in [(0, 10.0), (1, 30.0), (2, 20.0)] for i in range(4)]
        return {"workload": workload, "setup_s": 1.0, "heap_peak_mb": 10.0,
                "passes": [{"pass": p, "wall_s": w}
                           for p, w in [(0, 5.0), (1, 9.0), (2, 6.0)]],
                "ops": ops}

    def test_medians_over_passes(self):
        e2e = metrics.end_to_end(self.raw("g500_kernel"))
        self.assertEqual(e2e["pass_s"], 6.0)
        self.assertEqual(e2e["op_ms_mean"], 20.0)
        self.assertEqual(e2e["samples"], 12)
        self.assertEqual(e2e["passes"], 3)
        self.assertEqual(e2e["bfs_ms_p50"], 10.0)
        # TEPS from the BFS part: 10 edges in 10 ms
        self.assertAlmostEqual(e2e["hm_rate"], 12 / (4 * (5 + 15 + 10) / 1e4))

    def test_batched_roots_are_one_sample_per_pass(self):
        self.assertEqual(metrics.end_to_end(self.raw("g500_dist"))["samples"], 3)


class OracleRules(unittest.TestCase):
    def test_canonical_rows_ignore_order_and_normalize_types(self):
        import datetime
        cols, rows = oracle.canon(
            ["b", "a", "t"], ["double", "long", "timestamp"],
            [[2.0, 3, datetime.datetime(1970, 1, 1, 0, 0, 1)],
             [None, 1.0, None]])
        self.assertEqual(cols, ["a", "b", "t"])
        self.assertEqual(rows, [[1, None, None], [3, 2.0, 1000000]])

    def test_oracle_date_matches_spark_timestamp_at_midnight(self):
        import datetime
        self.assertEqual(oracle.norm(datetime.date(1970, 1, 2), "timestamp"),
                         86400 * 1000000)

    def test_cells_compare_floats_exactly_and_nan_equal(self):
        self.assertTrue(oracle.cells_equal(float("nan"), float("nan")))
        self.assertTrue(oracle.cells_equal(1, 1.0))
        self.assertFalse(oracle.cells_equal(0.1 + 0.2, 0.3))
        self.assertFalse(oracle.cells_equal(None, 0))


if __name__ == "__main__":
    unittest.main()
