"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pb import checks, plans, stats  # noqa: E402


class OpListTest(unittest.TestCase):

    def test_same_seed_same_ops(self):
        for w in plans.WORKLOADS:
            self.assertEqual(plans.make_plan(w, 7), plans.make_plan(w, 7), w)

    def test_other_seed_other_ops(self):
        for w in plans.WORKLOADS:
            _, _, a = plans.make_plan(w, 7)
            _, _, b = plans.make_plan(w, 8)
            self.assertNotEqual(a, b, w)

    def test_query_draw_takes_one_query_per_stratum(self):
        w = "registry_floor"
        strata = plans.read_pool(w)
        conf, warm, timed = plans.make_plan(w, 3)
        drawn = conf["queries"].split(",")
        self.assertEqual(len(drawn), len(strata))
        for s, q in zip(sorted(strata), drawn):
            self.assertIn(q, strata[s])
        # every pass holds each drawn query exactly once
        first = [op[2] for op in timed if op[0] == 0]
        self.assertEqual(sorted(first), sorted(drawn))
        # each set-up repetition dumps every query's result once
        for rep in range(plans.SETUP_REPS):
            self.assertEqual(sorted(op[2] for op in warm if op[0] == rep),
                             sorted(drawn))
            self.assertTrue(all(op[1] == "querycheck" for op in warm if op[0] == rep))

    def test_index_setup_builds_fresh_indexes(self):
        _, warm, _ = plans.make_plan("index_rw", 3)
        inits = [op for op in warm if op[1] == "init"]
        self.assertEqual([op[0] for op in inits], list(range(plans.SETUP_REPS)))
        self.assertEqual(len({op[2] for op in inits}), plans.SETUP_REPS)
        # the warm passes run after every set-up, on the last index
        self.assertTrue(all(op[0] == -1 for op in warm[plans.SETUP_REPS:]))

    def test_index_passes_hold_a_fixed_sequence(self):
        _, warm, timed = plans.make_plan("index_rw", 5)
        model = plans.warm_model(warm)
        for p in range(plans.INDEX_PASSES):
            ops = [op[1:] for op in timed if op[0] == p]
            self.assertEqual([op[0] for op in ops], [s[0] for s in plans.INDEX_PASS])
            for spec, op in zip(plans.INDEX_PASS, ops):
                if spec == ("point", "live"):
                    self.assertIn(int(op[1]), model.live)
                if spec == ("point", "deleted"):
                    self.assertIn(int(op[1]), model.deleted)
                if spec == ("point", "absent"):
                    self.assertNotIn(int(op[1]), model.live | model.deleted)
                if spec == ("range",):
                    lo, hi = int(op[1]), int(op[2])
                    self.assertTrue(any(lo <= i <= hi for i in model.deleted))
                model.apply(op)

    def test_index_ops_touch_valid_ids(self):
        _, warm, timed = plans.make_plan("index_rw", 11)
        model = plans.warm_model(warm)
        for op in timed:
            op = op[1:]
            if op[0] == "append":
                ids = plans.parse_ids(op[2])
                self.assertFalse(set(ids) & (model.live | model.deleted))
            if op[0] == "dvdelete":
                self.assertTrue(set(plans.parse_ids(op[1])) <= model.live)
            model.apply(op)


class StatsTest(unittest.TestCase):

    def test_percentile(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 50), 5.5)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertEqual(stats.percentile([4.0], 90), 4.0)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_p90_needs_enough_samples(self):
        few = stats.latency_summary([1.0] * (stats.MIN_P90_SAMPLES - 1))
        self.assertIsNone(few["p90"])
        self.assertEqual(few["p50"], 1.0)
        self.assertEqual(few["n"], stats.MIN_P90_SAMPLES - 1)
        enough = stats.latency_summary(list(range(stats.MIN_P90_SAMPLES)))
        self.assertIsNotNone(enough["p90"])
        none = stats.latency_summary([])
        self.assertEqual((none["p50"], none["p90"], none["n"]), (None, None, 0))

    def test_failed_ratio(self):
        self.assertEqual(stats.failed_ratio(10, 0, 0, 0), 0.0)
        self.assertEqual(stats.failed_ratio(10, 1, 2, 1), 0.4)
        self.assertEqual(stats.failed_ratio(4, 0, 0, 4), 1.0)
        with self.assertRaises(ValueError):
            stats.failed_ratio(0, 0, 0, 0)
        with self.assertRaises(ValueError):
            stats.failed_ratio(2, 1, 1, 1)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([3.0]), 3.0)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])


class ModelCheckTest(unittest.TestCase):

    def setUp(self):
        self.model = plans.IndexModel(base_below=10, total=20)
        self.model.apply(("dvdelete", "3,4"))           # v2: 3 and 4 deleted
        self.model.apply(("append", "1", "12,13"))      # v3: 12 and 13 live

    def check(self, op, result):
        return checks.check_index_op(self.model, op, result)

    def test_right_answers_pass(self):
        self.assertIsNone(self.check(("point", "12"), {"ids": [12]}))
        self.assertIsNone(self.check(("point", "15"), {"ids": []}))
        self.assertIsNone(self.check(("point", "3"), {"ids": []}))
        self.assertIsNone(self.check(("range", "2", "6"), {"ids": [2, 5, 6]}))
        self.assertIsNone(self.check(("search", "1"),
                                     {"ids": [1, 12, 0], "scores": [1.0, 0.5, 0.5]}))
        live = [0, 1, 2, 5, 6, 7, 8, 9, 12, 13]
        self.assertIsNone(self.check(("latest",), {"count": len(live),
                                                   "id_sum": sum(live)}))
        self.assertIsNone(self.check(("compact",), {"version": 4}))

    def test_injected_wrong_answers_are_flagged(self):
        self.assertIn("live id", self.check(("point", "12"), {"ids": []}))
        self.assertIn("deleted id", self.check(("point", "3"), {"ids": [3]}))
        self.assertIn("deleted ids", self.check(("range", "2", "6"),
                                                {"ids": [2, 4, 5, 6]}))
        self.assertIn("never inserted", self.check(("point", "15"), {"ids": [15]}))
        self.assertIn("missing", self.check(("range", "2", "6"), {"ids": [2, 6]}))
        self.assertIn("never inserted", self.check(("range", "10", "16"),
                                                   {"ids": [12, 13, 14]}))
        self.assertIn("deleted", self.check(("search", "1"),
                                            {"ids": [1, 3], "scores": [1.0, 0.9]}))
        self.assertIn("descending", self.check(("search", "1"),
                                               {"ids": [1, 2], "scores": [0.1, 0.9]}))
        self.assertIn("latest", self.check(("latest",), {"count": 11, "id_sum": 63}))
        self.assertIn("expected v4", self.check(("compact",), {"version": 3}))
        self.assertIn("deleted 1 rows", self.check(("dvdelete", "0,1"),
                                                   {"version": 4, "deleted": 1}))

    def test_replay_counts_wrong_ops(self):
        timed = [(0, "latest"), (0, "dvdelete", "0"), (0, "latest"), (0, "point", "0")]
        recs = [{"i": 0, "error": None, "result": {"count": 10, "id_sum": 45}},
                {"i": 1, "error": None, "result": {"version": 2, "deleted": 1}},
                # a stale read that still counts the deleted row
                {"i": 2, "error": None, "result": {"count": 10, "id_sum": 45}},
                # a point read that still serves the deleted row
                {"i": 3, "error": None, "result": {"ids": [0]}}]
        model = plans.IndexModel(base_below=10, total=20)
        wrong, _, _ = checks.check_index_run(timed, recs, model)
        self.assertEqual(sorted(wrong), [2, 3])


class ContractTest(unittest.TestCase):

    def test_reported_metrics_match_benchmark_json(self):
        path = os.path.join(plans.HERE, os.pardir, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        import json
        import run
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([m["name"] for m in spec["end_to_end"]], list(run.E2E_CONTRACT))
        self.assertEqual([m["name"] for m in spec["per_layer"]], list(run.LAYER_CONTRACT))
        self.assertTrue({w["name"] for w in spec["workloads"]} <= set(plans.WORKLOADS))


class OracleCompareTest(unittest.TestCase):

    def test_column_order_and_row_order_do_not_matter(self):
        self.assertIsNone(checks.compare_rows(["a", "b"], [(1, "x"), (2, None)],
                                              ["b", "a"], [(None, 2), ("x", 1)]))

    def test_values_compare_exactly(self):
        self.assertIsNotNone(checks.compare_rows(["a"], [(0.1 + 0.2,)], ["a"], [(0.3,)]))
        self.assertIsNotNone(checks.compare_rows(["a"], [(1,)], ["b"], [(1,)]))
        self.assertIsNotNone(checks.compare_rows(["a"], [(1,), (1,)], ["a"], [(1,)]))


if __name__ == "__main__":
    unittest.main()
