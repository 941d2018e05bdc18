"""Unit tests for the benchmark's arithmetic.

Run from the root of a checkout: python3 -m unittest discover enginebench
"""
import json
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class QuartileTest(unittest.TestCase):
    def test_quartile_spread_matches_statistics_quantiles(self):
        values = [10.0, 11.0, 9.5, 10.2, 12.0, 10.1, 9.9, 10.4, 10.0, 11.5]
        q1, _, q3 = statistics.quantiles(values, n=4)
        self.assertAlmostEqual(stats.quartile_spread(values),
                               (q3 - q1) / statistics.median(values))

    def test_quartile_spread_hand_computed(self):
        # exclusive method on 1..9: q1 = 2.5, q3 = 7.5, median 5
        self.assertAlmostEqual(stats.quartile_spread(list(range(1, 10))), 1.0)

    def test_quartile_spread_of_constant_is_zero(self):
        self.assertEqual(stats.quartile_spread([2.0] * 10), 0.0)


class FailedFracTest(unittest.TestCase):
    def test_share_of_attempted(self):
        self.assertEqual(stats.failed_frac(["a", "b", "c", "d"], ["b"]), 0.25)

    def test_none_failed(self):
        self.assertEqual(stats.failed_frac(["a", "b"], []), 0.0)

    def test_failures_outside_the_attempted_set_do_not_count(self):
        self.assertEqual(stats.failed_frac(["a", "b"], ["a", "z"]), 0.5)

    def test_duplicate_failures_count_once(self):
        self.assertEqual(stats.failed_frac(["a", "b"], ["a", "a"]), 0.5)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.failed_frac([], [])


def span(i, parent, start, end, layer="x", pass_=1):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end,
            "layer": layer, "pass": pass_}


class SelfTimeTest(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(stats.covered([(0, 4), (2, 6), (8, 12)], 1, 10), 7)
        self.assertEqual(stats.covered([], 0, 10), 0)
        self.assertEqual(stats.covered([(20, 30)], 0, 10), 0)

    def test_self_time_subtracts_children(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 50, 60)]
        self.assertEqual(stats.self_times(spans), {0: 60, 1: 30, 2: 10})

    def test_overlapping_children_count_once(self):
        # two concurrent jobs under one action
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 60), span(2, 0, 40, 80)]
        self.assertEqual(stats.self_times(spans)[0], 30)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 90, 130)]
        self.assertEqual(stats.self_times(spans)[0], 90)

    def test_grandchildren_do_not_reduce_the_grandparent(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 0, 50), span(2, 1, 0, 50)]
        self.assertEqual(stats.self_times(spans), {0: 50, 1: 0, 2: 50})

    def test_layer_self_seconds_sums_by_pass_and_layer(self):
        spans = [span(0, -1, 0, 3_000_000_000, "query", 1),
                 span(1, 0, 0, 1_000_000_000, "build", 1),
                 span(2, 0, 1_000_000_000, 3_000_000_000, "action", 1),
                 span(3, 2, 1_500_000_000, 2_500_000_000, "job", 1),
                 span(4, -1, 0, 2_000_000_000, "query", 3)]
        out = stats.layer_self_seconds(spans)
        self.assertEqual(out[1], {"query": 0.0, "build": 1.0, "action": 1.0, "job": 1.0})
        self.assertEqual(out[3], {"query": 2.0})


class DigestTest(unittest.TestCase):
    def test_unstable_digests(self):
        # c threw in the last pass; that pass has no digest for it
        passes = [{"failed": [], "digests": {"a": "1/2", "b": "5/5", "c": "3/3"}},
                  {"failed": [], "digests": {"a": "1/2", "b": "6/5", "c": "3/3"}},
                  {"failed": ["c"], "digests": {"a": "1/2", "b": "5/5"}}]
        self.assertEqual(stats.unstable_digests(passes, ["a", "b", "c"]), {"b"})

    def test_missing_digest_is_unstable(self):
        passes = [{"failed": [], "digests": {}}]
        self.assertEqual(stats.unstable_digests(passes, ["a"]), {"a"})


def fake_pass(n, traced):
    p = {"pass": n, "traced": traced, "wall_s": 4.0 + n, "cpu_s": 6.0, "build_s": 1.0,
         "action_s": 3.0, "gc_s": 0.1, "gc_count": 2, "pause_s": 0.2, "pause_max_ms": 9.0,
         "steal_s": 0.0, "failed": [], "ids": {"q1": 1.0}, "digests": {}}
    if traced:
        p.update({k: 1 for k in (
            "build_jobs", "fn_reregistrations", "jobs", "stages", "tasks", "failed_tasks",
            "task_s", "task_cpu_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
            "input_mb", "analysis_s", "optimization_s", "planning_s", "plan_nodes",
            "exchanges")})
    return p


class MetricNamesTest(unittest.TestCase):
    """The metrics a run prints are exactly the ones BENCHMARK.json lists."""

    def setUp(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            self.spec = json.load(f)
        self.run = {"ready_ns": 12_000_000_000, "rss_peak_mb": 900.0,
                    "cold": fake_pass(0, False), "calib_ms": [100.0] * 5,
                    "register_s": [0.01] * 4,
                    "warm": [fake_pass(i, i in (1, 4)) for i in (1, 2, 3, 4)]}

    def test_end_to_end(self):
        m = run.end_to_end(2.0, self.run)
        self.assertEqual(set(m), {x["name"] for x in self.spec["end_to_end"]})
        self.assertAlmostEqual(m["setup_s"]["value"], 10.0)
        # untraced passes 2 and 3 only
        self.assertEqual(m["pass_s"]["value"], 6.5)
        self.run["warm"][0]["traced"] = False
        self.assertEqual(run.end_to_end(2.0, self.run)["pass_s"]["value"], 6.0)

    def test_per_layer(self):
        spans = [span(0, -1, 0, 10, "query", 1), span(1, 0, 0, 4, "build", 1),
                 span(2, 0, 4, 10, "action", 1), span(3, 2, 5, 9, "job", 1)]
        m = run.per_layer(self.run, spans)
        self.assertEqual(set(m), {x["name"] for x in self.spec["per_layer"]})
        # traced passes 1 and 4 (5 s and 8 s) against untraced 2 and 3 (6 s and 7 s)
        self.assertEqual(m["trace.pass_s"]["value"], 6.5)
        self.assertEqual(m["trace.overhead_s"]["value"], 0.0)
        for x in self.spec["per_layer"] + self.spec["end_to_end"]:
            if x["name"] in m:
                self.assertEqual(m[x["name"]]["unit"], x["unit"], x["name"])


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        sizes = gen.Sizes(users=20, customers=30, suppliers=5, parts=20,
                          orders=50, docs=40, vecs=30)
        with tempfile.TemporaryDirectory() as d:
            for sub, seed in (("a", 7), ("b", 7), ("c", 8)):
                gen.generate(os.path.join(d, sub), seed, sizes)

            def read(sub, t):
                with open(os.path.join(d, sub, f"{t}.parquet"), "rb") as f:
                    return f.read()
            for t in ("events", "documents", "embeddings", "lineitem", "orders"):
                self.assertEqual(read("a", t), read("b", t), t)
                self.assertNotEqual(read("a", t), read("c", t), t)


if __name__ == "__main__":
    unittest.main()
