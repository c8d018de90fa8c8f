"""Tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import unittest

import analysis
import datagen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))


def span(id, parent, start, end, name="x", op=0):
    return {"id": id, "parent": parent, "op": op, "name": name, "start": start, "end": end}


class TailPercentile(unittest.TestCase):
    def test_ten_samples_beyond_the_reported_percentile(self):
        xs = list(range(1, 101))            # 1..100
        value, pct, beyond, n = analysis.tail(xs)
        self.assertEqual((value, pct, beyond, n), (90, 90.0, 10, 100))

    def test_order_of_samples_does_not_matter(self):
        xs = [float(x) for x in range(40, 0, -1)]
        self.assertEqual(analysis.tail(xs)[:3], (30.0, 75.0, 10))

    def test_too_few_samples_fall_back_to_the_median(self):
        value, pct, beyond, n = analysis.tail([3.0, 1.0, 2.0])
        self.assertEqual((value, pct, beyond, n), (2.0, 50.0, 1, 3))

    def test_never_below_the_median(self):
        xs = list(range(15))
        value, pct, _, _ = analysis.tail(xs)
        self.assertGreaterEqual(value, analysis.median(xs))
        self.assertEqual(pct, 50.0)

    def test_empty(self):
        self.assertEqual(analysis.tail([]), (0.0, 0.0, 0, 0))


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_from_their_parent(self):
        spans = [span(0, -1, 0.0, 10.0), span(1, 0, 1.0, 4.0), span(2, 0, 5.0, 6.0)]
        self.assertEqual(analysis.self_times(spans), {0: 6.0, 1: 3.0, 2: 1.0})

    def test_overlapping_children_are_counted_once(self):
        spans = [span(0, -1, 0.0, 10.0), span(1, 0, 1.0, 5.0), span(2, 0, 3.0, 7.0)]
        self.assertAlmostEqual(analysis.self_times(spans)[0], 4.0)

    def test_grandchildren_only_reduce_their_own_parent(self):
        spans = [span(0, -1, 0.0, 10.0), span(1, 0, 2.0, 8.0), span(2, 1, 3.0, 4.0)]
        st = analysis.self_times(spans)
        self.assertEqual((st[0], st[1], st[2]), (4.0, 5.0, 1.0))

    def test_self_times_sum_to_the_root(self):
        spans = [span(0, -1, 0.0, 9.0), span(1, 0, 0.5, 3.0), span(2, 1, 1.0, 2.0),
                 span(3, 0, 3.0, 8.5)]
        self.assertAlmostEqual(sum(analysis.self_times(spans).values()), 9.0)


class RowsPerSecond(unittest.TestCase):
    def test_rows_over_summed_op_time(self):
        # 3 ops of 1000 rows in 1 + 2 + 5 s: 3000 / 8, not the mean of rates
        self.assertEqual(analysis.rows_per_s(1000, [1.0, 2.0, 5.0]), 375.0)

    def test_no_ops(self):
        self.assertEqual(analysis.rows_per_s(1000, []), 0.0)


class SeedArgument(unittest.TestCase):
    def parse(self, *argv):
        return analysis.parse_args(list(argv))

    def test_full_command_line(self):
        a = self.parse("--workload", "dq_gate", "--seed", "7", "--seconds", "10",
                       "--trace", "1")
        self.assertEqual((a.workload, a.seed, a.seconds, a.trace), ("dq_gate", 7, 10.0, 1))

    def test_bad_seeds_are_refused(self):
        for bad in ("-1", "x", "1.5"):
            with self.assertRaises(SystemExit), contextlib.redirect_stderr(io.StringIO()):
                self.parse("--workload", "dq_gate", "--seed", bad, "--seconds", "1")

    def test_unknown_workload_is_refused(self):
        with self.assertRaises(SystemExit), contextlib.redirect_stderr(io.StringIO()):
            self.parse("--workload", "nope", "--seed", "1", "--seconds", "1")

    def test_same_seed_same_rules(self):
        self.assertEqual(datagen.row_rules(3, 50), datagen.row_rules(3, 50))
        self.assertNotEqual(datagen.row_rules(3, 50), datagen.row_rules(4, 50))


class GeneratedRules(unittest.TestCase):
    def test_seventeen_columns_no_fail_actions(self):
        rules = datagen.row_rules(11, 1000)
        self.assertEqual(len(rules), 1000)
        self.assertTrue(all(len(r) == 17 for r in rules))
        actions = [r["action_if_failed"] for r in rules]
        self.assertNotIn("fail", actions)
        self.assertTrue(0.05 < actions.count("drop") / len(rules) < 0.15)


class Canonical(unittest.TestCase):
    def test_value_forms_match_the_harness(self):
        self.assertEqual([oracle.canonical_value(v) for v in (None, True, 3, 0.5, "a")],
                         ["NULL", "true", "3", "5.000000e-01", "a"])


class Spark(unittest.TestCase):
    def test_driver_only_time_is_wall_minus_stage_time(self):
        stages = [{"submit": 1.0, "done": 3.0, "tasks": 4, "failed": 0, "run_s": 6.0,
                   "gc_s": 0.1, "shuffle_write_bytes": 10, "spill_bytes": 0},
                  {"submit": 2.0, "done": 4.0, "tasks": 2, "failed": 1, "run_s": 2.0,
                   "gc_s": 0.0, "shuffle_write_bytes": 5, "spill_bytes": 7},
                  {"submit": 20.0, "done": 21.0, "tasks": 9, "failed": 0, "run_s": 1.0,
                   "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}]
        w = analysis.spark_window(stages, [{"start": 1.0}], 0.0, 10.0, cores=4)
        self.assertEqual((w["stages"], w["tasks"], w["tasks_failed"], w["jobs"]), (2, 6, 1, 1))
        self.assertAlmostEqual(w["driver_only_s"], 7.0)
        self.assertAlmostEqual(w["busy_ratio"], 8.0 / 40.0)


class TracedMetrics(unittest.TestCase):
    def test_layer_self_times_account_for_the_op_and_probes_stay_out(self):
        spans = [span(0, -1, 0.0, 10.0, "op", op=1),
                 span(1, 0, 0.0, 1.0, "rules.load", op=1),
                 span(2, 0, 1.0, 7.0, "orchestrator.run", op=1),
                 span(3, 0, 7.0, 9.5, "sink.error_write", op=1),
                 span(4, -1, 11.0, 14.0, "probes", op=1),
                 span(5, 4, 11.0, 13.0, "eval.row_counts", op=1)]
        stage = {"submit": 2.0, "done": 3.0, "tasks": 4, "failed": 0, "run_s": 2.0,
                 "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        raw = {"cores": 4, "spans": spans, "stages": [stage], "jobs": [{"start": 2.0}],
               "codegen": [{"t": 5.0, "kind": "fallback", "ms": 0},
                           {"t": 12.0, "kind": "fallback", "ms": 0}],
               "ops": [{"id": 1, "traced": True, "start": 0.0, "end": 10.0,
                        "codegen_classes": 2, "leaked_rdds": 0, "numbers": {}},
                       {"id": 2, "traced": False, "start": 20.0, "end": 29.0}]}
        names = [m["name"] for m in analysis.PER_LAYER]
        out, _ = analysis.traced_metrics(raw, names)
        layers = sum(out[f"trace.self.{lay}_s"] for lay in
                     ("rules", "orchestrator", "sink", "cache", "queries", "uncovered"))
        self.assertAlmostEqual(layers, 10.0)
        self.assertAlmostEqual(out["trace.self.uncovered_s"], 0.5)
        self.assertEqual(out["eval.row_counts_s"], 2.0)
        self.assertEqual(out["eval.codegen_fallbacks"], 1)
        self.assertEqual((out["orchestrator.jobs"], out["orchestrator.stages"]), (1, 1))
        self.assertAlmostEqual(out["trace.overhead_s"], 1.0)
        self.assertEqual(set(out), set(names))


class BenchmarkFile(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual(b["end_to_end"], analysis.END_TO_END)
        self.assertEqual(b["per_layer"], analysis.PER_LAYER)
        self.assertLessEqual({w["name"] for w in b["workloads"]}, set(analysis.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
