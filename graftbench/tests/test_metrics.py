"""Self-tests for the benchmark's arithmetic.

    python3 -m unittest discover -s graftbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_reported_value(self):
        xs = [float(i) for i in range(1, 101)]
        value, pct, n = metrics.tail(xs)
        self.assertEqual(value, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(n, 100)

    def test_order_of_samples_does_not_matter(self):
        xs = [float((7 * i) % 23) for i in range(23)]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_twenty_one_samples_give_the_median(self):
        value, pct, _ = metrics.tail([float(i) for i in range(21)])
        self.assertEqual(value, 10.0)
        self.assertAlmostEqual(pct, 100.0 * 11 / 21)

    def test_twenty_samples_have_no_tail(self):
        self.assertIsNone(metrics.tail([float(i) for i in range(20)]))
        self.assertIsNone(metrics.tail([]))

    def test_few_samples_report_the_p75_of_op_medians(self):
        samples = ([{"op": "a", "cold": False, "seconds": x} for x in (1.0, 2.0, 9.0)]
                   + [{"op": "b", "cold": False, "seconds": x} for x in (3.0, 4.0)]
                   + [{"op": "b", "cold": True, "seconds": 50.0}])
        value, pct, n = metrics.latency_tail(samples)
        self.assertEqual((pct, n), (75.0, 5))
        self.assertAlmostEqual(value, metrics.hd_quantile([2.0, 3.5], 0.75))
        self.assertTrue(2.0 < value < 3.5)

    def test_enough_samples_use_the_rule(self):
        samples = [{"op": f"o{i % 3}", "cold": False, "seconds": float(i)} for i in range(30)]
        self.assertEqual(metrics.latency_tail(samples)[0], 19.0)


class HarrellDavis(unittest.TestCase):
    def test_incomplete_beta(self):
        self.assertAlmostEqual(metrics.betainc(1, 1, 0.3), 0.3)
        self.assertAlmostEqual(metrics.betainc(2, 2, 0.5), 0.5)
        self.assertAlmostEqual(metrics.betainc(2, 3, 0.4), 0.5248)  # 1 - (1-x)^4 - 4x(1-x)^3
        self.assertAlmostEqual(metrics.betainc(6.5, 6.5, 0.2) + metrics.betainc(6.5, 6.5, 0.8), 1.0)

    def test_weights_sum_to_one(self):
        self.assertAlmostEqual(metrics.hd_quantile([5.0] * 12, 0.5), 5.0)
        self.assertAlmostEqual(metrics.hd_quantile([7.0], 0.9), 7.0)

    def test_symmetric_values_give_the_middle(self):
        self.assertAlmostEqual(metrics.hd_quantile([1.0, 2.0, 3.0], 0.5), 2.0)
        self.assertAlmostEqual(metrics.hd_quantile([float(i) for i in range(12)], 0.5), 5.5)

    def test_a_gap_at_the_median_moves_it_smoothly(self):
        low = [1.0] * 6 + [3.0] * 6
        one_up = [1.0] * 5 + [3.0] * 7
        self.assertEqual(metrics.statistics.median(one_up) - metrics.statistics.median(low), 1.0)
        self.assertLess(metrics.hd_quantile(one_up, 0.5) - metrics.hd_quantile(low, 0.5), 0.5)

    def test_p90_sits_high(self):
        xs = [float(i) for i in range(1, 13)]
        self.assertTrue(10.0 < metrics.hd_quantile(xs, 0.9) < 12.0)


class UniformMix(unittest.TestCase):
    def test_each_distinct_op_weighs_the_same(self):
        r = {"setup_s": [1.0], "heap_after_gc_mb": 1.0, "window_s": 9.0,
             "samples": [{"op": "a", "cold": True, "seconds": 5.0},
                         {"op": "b", "cold": True, "seconds": 7.0}]
             + [{"op": "a", "cold": False, "seconds": 1.0}] * 5
             + [{"op": "b", "cold": False, "seconds": 3.0}]}
        m = metrics.end_to_end(r)
        self.assertEqual(m["ops_per_s"], 2 / (1.0 + 3.0))
        self.assertAlmostEqual(m["latency_p50_s"], 2.0)
        self.assertAlmostEqual(m["cold_p50_s"], 6.0)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time(0, 100, []), 100)

    def test_disjoint_children(self):
        self.assertEqual(metrics.self_time(0, 100, [(10, 20), (50, 70)]), 70)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time(0, 100, [(10, 40), (30, 60), (55, 65)]), 45)

    def test_nested_children_count_once(self):
        self.assertEqual(metrics.self_time(0, 100, [(10, 90), (20, 30)]), 20)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time(10, 20, [(0, 15), (18, 40), (50, 60)]), 3)


class FailureCounting(unittest.TestCase):
    samples = [{"op": "a"}, {"op": "b", "error": "boom"}, {"op": "a"}, {"op": "c"}, {"op": "b"}]

    def test_clean_run(self):
        self.assertEqual(metrics.count_failures(self.samples[:1], {}), (1, 0))

    def test_thrown_executions_count(self):
        self.assertEqual(metrics.count_failures(self.samples, {}), (5, 1))

    def test_a_failed_check_fails_every_execution_of_its_op(self):
        self.assertEqual(metrics.count_failures(self.samples, {"a": "rows 1 != 2"}), (5, 3))

    def test_an_op_that_threw_and_failed_its_check_counts_each_execution_once(self):
        self.assertEqual(metrics.count_failures(self.samples, {"b": "boom"}), (5, 2))


def _result():
    """A small traced result: two ops, one with a store commit and a job."""
    return {
        "setup_s": [3.0, 1.0, 2.0], "window_s": 2.0, "heap_after_gc_mb": 80.0,
        "samples": [
            {"op": "day000", "seq": 0, "cold": True, "seconds": 0.9, "span": 1},
            {"op": "day001", "seq": 1, "cold": False, "seconds": 0.5, "span": 3},
        ],
        "spans": [
            {"id": 0, "parent": 1, "name": "store.commit", "op": 0, "start_ns": 100, "end_ns": 300},
            {"id": 1, "parent": -1, "name": "day000", "op": 0, "start_ns": 0, "end_ns": 1000},
            {"id": 2, "parent": 3, "name": "sql.report", "op": 1, "start_ns": 1200, "end_ns": 1500},
            {"id": 3, "parent": -1, "name": "day001", "op": 1, "start_ns": 1000, "end_ns": 2000},
            {"id": -1, "parent": 0, "name": "job 0", "op": -1, "start_ns": 150, "end_ns": 250},
            {"id": -1, "parent": 2, "name": "job 1", "op": -1, "start_ns": 1250, "end_ns": 1450},
        ],
        "counters": {"0": {"spark.jobs": 1, "spark.stage_skew_max": 2.0},
                     "2": {"spark.jobs": 1, "sql.report_plans": 2, "sql.fact_scans": 3,
                           "functions.kernel_nodes": 1, "functions.generate_nodes": 2}},
        "summary": {"bronze_bytes": 100, "bronze_records": 10, "day000.silver_rows": 9,
                    "day001.silver_rows": 8, "store_files": 4, "store_bytes": 300,
                    "store_dv_files": 2, "silver_bytes": 100},
    }


class NamedMetrics(unittest.TestCase):
    def test_every_end_to_end_metric_is_present_with_a_unit(self):
        r = _result()
        r["samples"] += [{"op": "day001", "seq": 2 + i, "cold": False, "seconds": 0.1 * i, "span": 3}
                         for i in range(12)]
        e2e = metrics.end_to_end(r)
        self.assertEqual(metrics.missing(e2e, metrics.END_TO_END), [])
        self.assertEqual(set(e2e), set(metrics.END_TO_END))
        self.assertEqual(e2e["setup_s"], 2.0)
        for unit, better in metrics.END_TO_END.values():
            self.assertTrue(unit)
            self.assertIn(better, ("higher", "lower"))

    def test_every_per_layer_metric_is_present_with_a_unit(self):
        layer = metrics.per_layer(_result())
        layer.update({"run.failed_ratio": 0.0, "run.latency_tail_pct": 50.0,
                      "run.latency_tail_samples": 20, "trace.ops_per_s": 1.0})
        self.assertEqual(metrics.missing(layer, metrics.PER_LAYER), [])
        for unit, better in metrics.PER_LAYER.values():
            self.assertTrue(unit)
            self.assertIn(better, ("higher", "lower"))

    def test_per_layer_roll_up(self):
        m = metrics.per_layer(_result())
        self.assertEqual(m["spark.jobs"], 1.0)             # one job per op, on average
        self.assertEqual(m["store.commits"], 0.5)
        self.assertEqual(m["store.commit_ms"], 100 / 1e6)  # 200 ns over two ops
        self.assertEqual(m["spark.stage_skew_max"], 2.0)
        self.assertEqual(m["sql.fact_scans"], 1.5)         # 3 scans over 2 report plans
        self.assertEqual(m["functions.kernel_nodes_per_generate"], 0.5)
        self.assertEqual(m["etl.dq_pass_ratio"], 1.7)
        self.assertEqual(m["run.stored_bytes_per_user_byte"], 4.0)
        # day000: 1000 ns minus its 100 ns job; day001: 1000 minus 200
        self.assertAlmostEqual(m["driver.self_ms"], 850 / 1e6)

    def test_benchmark_json_names_the_same_metrics_and_workloads(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]}, metrics.PER_LAYER)
        self.assertLessEqual({w["name"] for w in b["workloads"]}, set(run.WORKLOADS))

    def test_per_op_breakdown(self):
        table = metrics.breakdown(_result())
        self.assertEqual(table["day000"], {"spark.jobs": 1.0, "spark.stage_skew_max": 2.0})
        self.assertEqual(table["day001"]["sql.fact_scans"], 3.0)

    def test_missing_reports_absent_and_non_finite(self):
        self.assertEqual(metrics.missing({"a": 1.0, "b": float("nan")}, {"a": 0, "b": 0, "c": 0}), ["b", "c"])


if __name__ == "__main__":
    unittest.main()
