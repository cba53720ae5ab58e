"""Tests of the benchmark runner's helpers.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import math
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(PERFBENCH)
sys.path.insert(0, PERFBENCH)

import pbstats  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(pbstats.tail_percentile(220), 95.0)
        self.assertEqual(pbstats.tail_percentile(200), 95.0)
        self.assertEqual(pbstats.tail_percentile(199), 90.0)
        self.assertEqual(pbstats.tail_percentile(100), 90.0)
        self.assertEqual(pbstats.tail_percentile(40), 75.0)
        self.assertEqual(pbstats.tail_percentile(39), 50.0)
        self.assertEqual(pbstats.tail_percentile(1000), 99.0)
        self.assertEqual(pbstats.tail_percentile(10000), 99.9)

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(pbstats.tail_percentile(19))
        self.assertIsNone(pbstats.tail_percentile(0))

    def test_quantile_interpolates_like_statistics_inclusive(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
        want = statistics.quantiles(xs, n=10, method="inclusive")
        for i, w in enumerate(want, start=1):
            self.assertAlmostEqual(pbstats.quantile(xs, i / 10), w)
        self.assertEqual(pbstats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(pbstats.quantile([4.0], 0.9), 4.0)


class SpanSelfTime(unittest.TestCase):
    @staticmethod
    def span(i, start, end, parent=-1, name="s"):
        return {"id": i, "name": name, "start": start, "end": end, "parent": parent}

    def test_overlapping_children_are_counted_once(self):
        spans = [self.span(1, 0, 100, name="batch"),
                 self.span(2, 10, 40, 1, "a"),
                 self.span(3, 30, 60, 1, "b"),      # overlaps a by 10
                 self.span(4, 90, 120, 1, "c")]     # runs past the parent
        st = pbstats.self_times(spans)
        # covered: [10, 60] and [90, 100] -> 60 ms; self = 100 - 60
        self.assertAlmostEqual(st[1], 40.0)
        self.assertAlmostEqual(st[2], 30.0)
        self.assertAlmostEqual(st[4], 30.0)

    def test_grandchildren_do_not_reduce_the_grandparent(self):
        spans = [self.span(1, 0, 100), self.span(2, 0, 50, 1), self.span(3, 0, 50, 2),
                 self.span(4, 60, 70, 1), self.span(5, 60, 70, 1)]
        st = pbstats.self_times(spans)
        self.assertAlmostEqual(st[1], 40.0)
        self.assertAlmostEqual(st[2], 0.0)

    def test_self_time_by_name_sums_over_spans(self):
        spans = [self.span(1, 0, 10, name="q"), self.span(2, 0, 4, 1, "p"),
                 self.span(3, 20, 30, name="q")]
        agg = pbstats.self_time_by_name(spans)
        self.assertEqual(agg["q"]["count"], 2)
        self.assertAlmostEqual(agg["q"]["self_ms"], 16.0)
        self.assertAlmostEqual(agg["q"]["total_ms"], 20.0)


class DueTimeLatency(unittest.TestCase):
    def test_stalled_generator_shows_as_latency(self):
        due = [0.0, 100.0, 200.0, 300.0]
        sent = [0.0, 500.0, 501.0, 502.0]      # the generator stalled 400 ms
        done = [50.0, 550.0, 560.0, 570.0]
        # timed from the due time, the stall is charged to every file it delayed
        self.assertEqual(pbstats.due_latencies(due, done), [50.0, 450.0, 360.0, 270.0])
        self.assertEqual(pbstats.lateness(due, sent), [0.0, 400.0, 301.0, 202.0])

    def test_unfinished_operations_are_left_out(self):
        due = [0.0, 10.0, 20.0]
        done = [5.0, None, float("nan")]
        self.assertEqual(pbstats.due_latencies(due, done), [5.0])

    def test_early_send_is_not_negative_lateness(self):
        self.assertEqual(pbstats.lateness([10.0], [9.5]), [0.0])


class TraceOverhead(unittest.TestCase):
    def test_traced_phase_is_compared_with_both_neighbours(self):
        # the JVM still speeding up: 110 before, 90 after, traced 105 between
        self.assertAlmostEqual(pbstats.overhead(105.0, 110.0, 90.0), 0.05)
        self.assertAlmostEqual(pbstats.overhead(100.0, 100.0, 100.0), 0.0)


class FailureAccounting(unittest.TestCase):
    def test_clean_run(self):
        phases = [{"attempted": 200, "failed": 0, "violations": []}]
        self.assertEqual(pbstats.account(phases), (True, 200, 0))

    def test_missing_output_counts_as_failed(self):
        phases = [{"attempted": 200, "failed": 3, "violations": []}]
        self.assertEqual(pbstats.account(phases), (False, 200, 3))

    def test_digest_mismatch_fails_the_run(self):
        phases = [{"attempted": 12, "failed": 0, "violations": ["digest mismatch: f00001.bin"]}]
        correct, attempted, failed = pbstats.account(phases)
        self.assertFalse(correct)
        self.assertEqual((attempted, failed), (12, 0))

    def test_checks_add_to_both_counts(self):
        phases = [{"attempted": 24, "failed": 0, "violations": []},
                  {"attempted": 24, "failed": 1, "violations": []}]
        self.assertEqual(pbstats.account(phases, check_failures=2, check_attempted=12),
                         (False, 60, 3))

    def test_nothing_attempted_is_not_correct(self):
        correct, attempted, _ = pbstats.account([{"attempted": 0, "failed": 0}])
        self.assertFalse(correct)
        self.assertEqual(attempted, 1)


class OracleRules(unittest.TestCase):
    def test_columns_compare_sorted_and_cells_loosely(self):
        self.assertIsNone(pbstats.frames_match(
            ["b", "a"], [[1, "x"], [None, float("nan")]],
            ["a", "b"], [["x", 1], [float("nan"), None]]))
        self.assertIsNone(pbstats.frames_match(["a"], [[1]], ["a"], [["1"]]))

    def test_mismatches_are_reported(self):
        self.assertIn("columns", pbstats.frames_match(["a"], [[1]], ["b"], [[1]]))
        self.assertIn("rows", pbstats.frames_match(["a"], [[1]], ["a"], []))
        self.assertIn("row 0", pbstats.frames_match(["a"], [[1]], ["a"], [[2]]))


class BenchmarkConfig(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.bench = json.load(fh)
        with open(os.path.join(PERFBENCH, "layers.json")) as fh:
            cls.layers = json.load(fh)

    def test_every_layer_metric_names_a_known_metric_and_workload(self):
        self.assertEqual(pbstats.check_layer_map(self.bench, self.layers["layers"]), [])

    def test_the_check_catches_unknown_names(self):
        bad = dict(self.layers["layers"])
        first = self.bench["per_layer"][0]["name"]
        bad[first] = {"moves": [{"metric": "no_such_metric", "workload": "no_such_workload"}]}
        problems = pbstats.check_layer_map(self.bench, bad)
        self.assertEqual(len(problems), 2)
        del bad[first]
        self.assertIn("not in the layer map", pbstats.check_layer_map(self.bench, bad)[0])

    def test_workloads_match_the_runner(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(run.WORKLOADS))
        self.assertEqual(set(self.layers["workloads"]), set(run.WORKLOADS))

    def test_end_to_end_metrics_are_the_ones_computed(self):
        phase = {"ops_ms": [1.0, 2.0, 3.0], "mb": 10.0, "busy_ms": 2000.0,
                 "detail": {}}
        got = run.end_to_end({"setup_s": [9.0, 1.0, 2.0]}, phase)
        self.assertEqual(set(got), {m["name"] for m in self.bench["end_to_end"]})
        self.assertEqual(got["setup_s"], 2.0)
        self.assertEqual(got["throughput_mb_s"], 5.0)
        self.assertTrue(all(v > 0 and math.isfinite(v) for v in got.values()))

    def test_traced_run_reports_overhead_and_drift(self):
        def phase(ops, layers=None):
            return {"ops_ms": ops, "heap_live_mb": 50.0, "detail": {}, "layers": layers or {}}
        raw = {"phases": [phase([110.0]), phase([105.0], {"spark.jobs": 3.0}), phase([90.0])]}
        got = run.per_layer(raw)
        self.assertAlmostEqual(got["bench.trace_overhead_frac"], 0.05)
        self.assertAlmostEqual(got["bench.untraced_repeat_frac"], 90.0 / 110.0 - 1.0)
        self.assertEqual(got["spark.jobs"], 3.0)
        self.assertEqual(got["bench.heap_live_mb"], 50.0)

    def test_setup_metric_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in self.bench["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


if __name__ == "__main__":
    unittest.main()
