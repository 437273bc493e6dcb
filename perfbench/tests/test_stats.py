"""Tests of the benchmark's own arithmetic and naming rules.

Run from the repository root: python3 -m pytest perfbench/tests
"""
import json
import os
import random
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        rnd = random.Random(7)
        for n in (11, 12, 50, 99, 100, 101, 250, 1000):
            xs = [rnd.random() for _ in range(n)]
            value, beyond = stats.tail_percentile(xs, 0.9)
            self.assertGreaterEqual(beyond, 10, n)
            self.assertEqual(beyond, sum(1 for x in xs if x > value))

    def test_is_the_nearest_rank_p90_when_the_sample_allows(self):
        xs = list(range(1, 201))  # 200 samples: p90 is 180, 20 beyond
        self.assertEqual(stats.tail_percentile(xs, 0.9), (180, 20))

    def test_query_p66_of_a_minimal_run(self):
        # an untraced run collects at least 30 latencies
        self.assertEqual(stats.tail_percentile(list(range(1, 31)), 0.66), (20, 10))

    def test_moves_down_when_the_sample_is_short(self):
        xs = list(range(1, 51))  # p90 would be 45 with 5 beyond
        self.assertEqual(stats.tail_percentile(xs, 0.9), (40, 10))

    def test_ties_do_not_count_as_beyond(self):
        xs = [1.0] * 30 + [2.0] * 80  # the 10 samples above rank 100 are all ties
        value, beyond = stats.tail_percentile(xs, 0.9)
        self.assertEqual((value, beyond), (1.0, 80))

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            stats.tail_percentile(list(range(10)), 0.9)


class SelfTime(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(5, 6), (0, 10)]), 10)
        self.assertEqual(stats.union_length([(3, 3), (4, 2)]), 0)

    def test_self_time_subtracts_covered_part_once(self):
        self.assertEqual(stats.self_time((0, 10), []), 10)
        self.assertEqual(stats.self_time((0, 10), [(2, 4), (3, 6)]), 6)
        # children poking out of the span are clipped to it
        self.assertEqual(stats.self_time((0, 10), [(-5, 2), (8, 20)]), 6)
        self.assertEqual(stats.self_time((0, 10), [(0, 10), (1, 2)]), 0)

    def test_span_tree_self_times(self):
        run = {
            "passes": [{"pass": 1, "traced": True, "ops": [
                {"tag": "t1/0", "name": "q", "start_ms": 0.0, "build_end_ms": 2.0,
                 "end_ms": 10.0}]}],
            "sqls": [{"id": 7, "start_ms": 3.0, "end_ms": 9.0, "description": "save",
                      "target": ""}],
            "jobs": [{"id": 1, "tag": "t1/0", "exec": 7, "stages": [4], "start_ms": 4.0,
                      "end_ms": 8.0}],
            "stages": [{"id": 4, "submit_ms": 4.0, "end_ms": 7.0, "cpu_ms": 9}],
        }
        sp = {s["id"]: s for s in layers.spans(run)}
        selfs = layers.self_times(list(sp.values()))
        op = "p1/t1/0"
        self.assertEqual(sp[f"{op}/sql7"]["parent"], f"{op}/action")
        self.assertEqual(sp[f"{op}/job1"]["parent"], f"{op}/sql7")
        self.assertEqual(selfs[op], 0.0)                 # build + action cover it
        self.assertEqual(selfs[f"{op}/build"], 2.0)      # no children
        self.assertEqual(selfs[f"{op}/action"], 2.0)     # 8 ms minus the 6 ms execution
        self.assertEqual(selfs[f"{op}/sql7"], 2.0)       # 6 ms minus the 4 ms job
        self.assertEqual(selfs[f"{op}/job1"], 1.0)       # 4 ms minus the 3 ms stage
        self.assertEqual(selfs[f"{op}/job1/stage4"], 3.0)


class Names(unittest.TestCase):
    def test_charset(self):
        for ok in ("setup_s", "exec.task_s", "functions.ngram_md5_ns", "a-b.c_9"):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, "é", "a:b"):
            self.assertFalse(stats.valid_name(bad), bad)

    def test_declared_metrics_and_workloads(self):
        root = os.path.dirname(os.path.dirname(HERE))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        with open(os.path.join(os.path.dirname(HERE), "workloads.json")) as f:
            config = json.load(f)
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        names += [w["name"] for w in bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        for m in bench["end_to_end"] + bench["per_layer"]:
            self.assertTrue(stats.valid_unit(m["unit"]), m["unit"])
            self.assertIn(m["better"], ("higher", "lower"))
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(config["workloads"]))
        for layer in config["layers"]:
            self.assertIn(layer, {m["name"] for m in bench["per_layer"]})


if __name__ == "__main__":
    unittest.main()
