"""Tests of the benchmark's pure helpers.

Run from the root of a checkout: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import report  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(stats.percentile([10, 20, 30, 40, 50], 75), 40)
        self.assertAlmostEqual(stats.percentile(range(1, 101), 95), 95.05)

    def test_extremes_and_single_value(self):
        self.assertEqual(stats.percentile([7, 3, 9], 0), 3)
        self.assertEqual(stats.percentile([7, 3, 9], 100), 9)
        self.assertEqual(stats.percentile([5], 99), 5)

    def test_no_values_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class TailTest(unittest.TestCase):
    def test_highest_level_with_ten_beyond(self):
        self.assertEqual(stats.tail_level(20), 50.0)
        self.assertEqual(stats.tail_level(39), 50.0)
        self.assertEqual(stats.tail_level(40), 75.0)
        self.assertEqual(stats.tail_level(99), 75.0)
        self.assertEqual(stats.tail_level(100), 90.0)
        self.assertEqual(stats.tail_level(200), 95.0)
        self.assertEqual(stats.tail_level(1000), 99.0)
        self.assertEqual(stats.tail_level(10000), 99.9)

    def test_level_leaves_at_least_ten_samples_beyond(self):
        for n in range(20, 3000, 7):
            p = stats.tail_level(n)
            self.assertGreaterEqual(n * (100 - p) / 100, 10, n)

    def test_few_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail_level(5), 50.0)
        self.assertEqual(stats.tail(list(range(1, 6))), (3, 50.0, 5))

    def test_tail_reports_value_level_and_count(self):
        v, p, n = stats.tail(list(range(1, 41)))
        self.assertEqual((p, n), (75.0, 40))
        self.assertAlmostEqual(v, stats.percentile(range(1, 41), 75))


class SeededOrderTest(unittest.TestCase):
    def test_same_seed_same_orders(self):
        a = stats.seeded_passes(["a", "b", "c", "d"], 7, "w", 5)
        self.assertEqual(a, stats.seeded_passes(["a", "b", "c", "d"], 7, "w", 5))

    def test_each_pass_is_a_permutation(self):
        keys = [f"k{i}" for i in range(12)]
        for order in stats.seeded_passes(keys, 3, "w", 20):
            self.assertEqual(sorted(order), sorted(keys))

    def test_seed_and_workload_change_the_order(self):
        keys = [f"k{i}" for i in range(12)]
        base = stats.seeded_passes(keys, 1, "w", 3)
        self.assertNotEqual(base, stats.seeded_passes(keys, 2, "w", 3))
        self.assertNotEqual(base, stats.seeded_passes(keys, 1, "v", 3))

    def test_workload_plans_are_seeded(self):
        for w in workloads.WORKLOADS:
            self.assertEqual(workloads.plan(w, 5, 20), workloads.plan(w, 5, 20))
            self.assertNotEqual(workloads.plan(w, 5, 20), workloads.plan(w, 6, 20))
        self.assertNotEqual(workloads.ddl_script(1), workloads.ddl_script(2))

    def test_pass_count_follows_seconds_not_host_speed(self):
        for w, per_pass in workloads.PASS_SECONDS.items():
            self.assertEqual(len(workloads.plan(w, 1, 10 * per_pass)["passes"]), 10)
            self.assertEqual(len(workloads.plan(w, 1, 1)["passes"]), 1)


class FailureCountTest(unittest.TestCase):
    def test_errors_and_wrong_results_count(self):
        ops = [{"name": "a", "check": "a", "error": None},
               {"name": "a", "check": "a", "error": None},
               {"name": "b", "check": "b", "error": "boom"},
               {"name": "c", "check": "c", "error": None},
               {"name": "d", "check": "d", "error": None},
               {"name": "stmt", "error": None}]
        checks = {"a": False, "b": True, "c": True, "d": None}
        # both runs of the wrong key fail, plus the op that threw
        self.assertEqual(stats.count_failures(ops, checks), (6, 3))

    def test_no_oracle_is_not_a_failure(self):
        ops = [{"name": "x", "check": "x", "error": None}]
        self.assertEqual(stats.count_failures(ops, {"x": None}), (1, 0))
        self.assertEqual(stats.count_failures(ops, {}), (1, 0))


class SpreadTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        med, q1, q3, sp = stats.spread([10, 11, 12, 13, 14, 15, 16, 17, 18, 19])
        self.assertEqual(med, 14.5)
        self.assertAlmostEqual(q1, 11.75)
        self.assertAlmostEqual(q3, 17.25)
        self.assertAlmostEqual(sp, 5.5 / 14.5)


class SelfTimeTest(unittest.TestCase):
    def test_children_union_is_subtracted_once(self):
        spans = [{"id": "op", "parent": None, "start": 0, "end": 100},
                 {"id": "a", "parent": "op", "start": 10, "end": 40},
                 {"id": "b", "parent": "op", "start": 30, "end": 50},
                 {"id": "c", "parent": "op", "start": 90, "end": 120},
                 {"id": "a1", "parent": "a", "start": 10, "end": 20}]
        st = stats.self_times(spans)
        self.assertEqual(st["op"], 100 - 40 - 10)
        self.assertEqual(st["a"], 20)
        self.assertEqual(st["c"], 30)

    def test_report_groups_self_time_by_kind(self):
        spans = [{"id": "op", "parent": None, "kind": "op", "start": 0, "end": 10},
                 {"id": "j1", "parent": "op", "kind": "job", "start": 2, "end": 6},
                 {"id": "j2", "parent": "op", "kind": "job", "start": 7, "end": 8}]
        self.assertEqual(report.self_time_by_kind(spans), {"op": 5, "job": 5})


if __name__ == "__main__":
    unittest.main()
