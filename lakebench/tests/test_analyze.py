"""Tests of the benchmark's analysis: percentile rule, self time, metric
names and units, and output checks.

    python3 -m unittest discover -s lakebench/tests
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import analyze  # noqa: E402

SPEC = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


class PercentileRule(unittest.TestCase):
    def test_tail_has_at_least_ten_samples_above(self):
        for n in range(21, 400):
            i = analyze.tail_index(n)
            self.assertGreaterEqual(n - 1 - i, 10, n)
            # and it is the highest such sample
            self.assertLess(n - 1 - (i + 1), 10, n)

    def test_small_samples_fall_back_to_the_upper_median(self):
        self.assertIsNone(analyze.tail_index(0))
        self.assertEqual(analyze.tail_index(1), 0)
        self.assertEqual(analyze.tail_index(20), 10)
        self.assertEqual(analyze.tail_index(21), 10)

    def test_summary_of_one_to_hundred(self):
        s = analyze.latency_summary(list(range(100, 0, -1)))
        self.assertEqual(s["n"], 100)
        self.assertEqual(s["p50"], 50.5)
        self.assertEqual(s["tail"], 90)
        self.assertEqual(s["tail_pct"], 90.0)
        self.assertEqual(sum(1 for x in range(1, 101) if x > s["tail"]), 10)

    def test_empty_summary(self):
        self.assertEqual(analyze.latency_summary([])["n"], 0)


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(analyze.union_ms([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertEqual(analyze.union_ms([(0, 10), (5, 20)], lo=8, hi=12), 4)
        self.assertEqual(analyze.union_ms([(0, None), (1, float("nan"))]), 0)

    def test_synthetic_span_tree(self):
        # root [0,100] -> a [10,40] (job [15,25]), b [30,60]; a job of
        # the root itself [70,80]; c [50,55] under b
        spans = [
            {"id": 0, "name": "op.x", "t0": 0.0, "t1": 100.0, "parent": -1, "op": 0},
            {"id": 1, "name": "format.a", "t0": 10.0, "t1": 40.0, "parent": 0, "op": 0},
            {"id": 2, "name": "format.b", "t0": 30.0, "t1": 60.0, "parent": 0, "op": 0},
            {"id": 3, "name": "format.c", "t0": 50.0, "t1": 55.0, "parent": 2, "op": 0},
        ]
        jobs = [{"id": 0, "t0": 15.0, "t1": 25.0, "span": 1, "op": 0},
                {"id": 1, "t0": 70.0, "t1": 80.0, "span": 0, "op": 0},
                {"id": 2, "t0": 1.0, "t1": 2.0, "span": -1, "op": -1}]
        st = analyze.self_times(spans, jobs)
        self.assertEqual(st[0], 100 - 50 - 10)  # minus [10,60] and [70,80]
        self.assertEqual(st[1], 30 - 10)
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 5)


class MetricNames(unittest.TestCase):
    def all_metrics(self):
        return analyze.END_TO_END + analyze.PER_LAYER

    def test_grammar_and_units(self):
        for name, unit in self.all_metrics():
            self.assertRegex(name, analyze.NAME_RE, name)
            self.assertRegex(unit, analyze.UNIT_RE, unit)
            self.assertRegex(name, r"^[A-Za-z0-9_.-]+$")

    def test_names_are_unique(self):
        names = [n for n, _ in self.all_metrics()]
        self.assertEqual(len(names), len(set(names)))

    def test_time_metrics_say_so_in_unit(self):
        for name, unit in self.all_metrics():
            if name.endswith("_ms") or "_ms." in name:
                self.assertEqual(unit, "ms", name)
            if name.endswith("_per_s"):
                self.assertEqual(unit, "1/s", name)
            elif name.endswith("_s"):
                self.assertEqual(unit, "s", name)

    @unittest.skipUnless(os.path.exists(SPEC), "BENCHMARK.json not present")
    def test_benchmark_json_lists_exactly_these_metrics(self):
        with open(SPEC) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         analyze.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         analyze.PER_LAYER)
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["better"], "lower")
        self.assertTrue(all(m["bound"] <= 0.25 for m in spec["end_to_end"]))


def record(ops, checks, setups=(1.0,)):
    return {"meta": {"workload": "interactive_reads", "cores": 4},
            "setups_s": list(setups), "footprints": [2.0],
            "ops": ops, "checks": checks, "spans": [], "jobs": [],
            "progress": [], "samples": [], "phases": []}


def op(i, kind, got, ok=True, t0=0.0, wall=10.0, phase="measure"):
    return {"id": i, "kind": kind, "phase": phase, "t0": t0 + 100 * i,
            "t1": t0 + 100 * i + wall, "ok": ok, "err": None, "rows": 0,
            "got": got, "fs": {}}


class OutputChecks(unittest.TestCase):
    def base(self):
        ops = [op(0, "point_read", "1|a"), op(1, "point_read", "2|b"),
               op(2, "vector_search_ivf", [0.9, 0.8, 0.7])]
        checks = [{"op": 0, "kind": "equal", "want": "1|a"},
                  {"op": 1, "kind": "equal", "want": "2|b"},
                  {"op": 2, "kind": "recall_scores", "want": [0.9, 0.8, 0.7],
                   "k": 3, "min_recall": 0.5, "eps": 1e-4}]
        return ops, checks

    def test_all_right(self):
        ops, checks = self.base()
        r = analyze.summarize(record(ops, checks), trace=False)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"])
        self.assertEqual((r["attempted"], r["failed"]), (3, 0))

    def test_planted_wrong_result_is_a_failure(self):
        ops, checks = self.base()
        ops[1]["got"] = "2|WRONG"
        r = analyze.summarize(record(ops, checks), trace=False)
        self.assertFalse(r["correct"])
        self.assertEqual((r["attempted"], r["failed"]), (3, 1))

    def test_thrown_operation_is_a_failure(self):
        ops, checks = self.base()
        ops.append(op(3, "filter", None, ok=False))
        r = analyze.summarize(record(ops, checks), trace=False)
        self.assertEqual((r["attempted"], r["failed"]), (4, 1))
        self.assertFalse(r["correct"])

    def test_low_recall_is_a_failure(self):
        ops, checks = self.base()
        ops[2]["got"] = [0.9, 0.1, 0.05]
        r = analyze.summarize(record(ops, checks), trace=False)
        self.assertEqual(r["failed"], 1)

    def test_recall_scores(self):
        c = {"kind": "recall_scores", "want": [5, 4, 3, 2], "k": 4,
             "min_recall": 0.5, "eps": 0.0}
        self.assertEqual(analyze.evaluate_check(c, [5, 4, 3, 2]), (True, 1.0))
        self.assertEqual(analyze.evaluate_check(c, [5, 4, 1, 0]), (True, 0.5))
        self.assertEqual(analyze.evaluate_check(c, [5, 1, 1, 0]), (False, 0.25))

    def test_recall_ids(self):
        c = {"kind": "recall_ids", "want": [[1, 2], [3, 4]], "k": 2, "min_recall": 0.7}
        self.assertEqual(analyze.evaluate_check(c, [[2, 1], [3, 9]]), (True, 0.75))
        self.assertFalse(analyze.evaluate_check(c, [[9, 8], [3, 4]])[0])

    def test_pairs(self):
        c = {"kind": "pairs", "want": ["1:2", "3:4", "5:6", "7:8"],
             "min_recall": 0.5, "min_precision": 0.9}
        self.assertEqual(analyze.evaluate_check(c, ["1:2", "3:4"]), (True, (0.5, 1.0)))
        self.assertFalse(analyze.evaluate_check(c, ["1:2", "3:4", "9:9"])[0])
        self.assertFalse(analyze.evaluate_check(c, ["1:2"])[0])

    def test_no_checks_is_not_correct(self):
        ops, _ = self.base()
        self.assertFalse(analyze.summarize(record(ops, []), trace=False)["correct"])


class EndToEnd(unittest.TestCase):
    def test_metrics_from_ops(self):
        ops = [op(i, "point_read", None, wall=float(i + 1)) for i in range(4)]
        e2e, summ = analyze.end_to_end(record(ops, [], setups=(3.0, 1.0, 2.0)))
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertEqual(e2e["op_p50_gmean_ms"], 2.5)
        self.assertAlmostEqual(e2e["ops_per_s"], 4 / 0.010)
        self.assertEqual(e2e["bytes_per_user_byte"], 2.0)
        self.assertEqual(summ["n"], 4)

    def test_gmean_weighs_each_kind_once(self):
        # "a" medians 2 over three runs, "b" 8 over one: sqrt(2 * 8)
        ops = [op(0, "a", None, wall=1.0), op(1, "a", None, wall=2.0),
               op(2, "a", None, wall=50.0), op(3, "b", None, wall=8.0)]
        self.assertAlmostEqual(analyze.kind_gmean_p50(ops), 4.0)
        self.assertIsNone(analyze.kind_gmean_p50([]))

    def test_overhead_ratio_compares_the_same_operations(self):
        ops, i = [], 0
        for phase, kinds, wall in (("untraced_a", "aba", 12.0), ("traced", "ab", 11.0),
                                   ("untraced_b", "abab", 8.0)):
            for k in kinds:
                ops.append(op(i, k, None, wall=wall, phase=phase))
                i += 1
        # first two ops of each phase: 22 traced over mean(24, 16)
        self.assertAlmostEqual(analyze.overhead_ratio(record(ops, [])), 1.1)


if __name__ == "__main__":
    unittest.main()
