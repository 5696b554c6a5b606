"""Unit tests for the benchmark's own arithmetic and names.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import statistics
import unittest

import benchlib

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")


def sample(query, wall_ms, traced=False, layers=None, task_ms=()):
    s = {"query": query, "wall_ms": wall_ms, "traced": traced}
    if layers is not None:
        s["layers"] = layers
        s["task_ms"] = list(task_ms)
    return s


class Arithmetic(unittest.TestCase):
    def test_median(self):
        self.assertEqual(benchlib.median([3, 1, 2]), 2)
        self.assertEqual(benchlib.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        self.assertEqual(benchlib.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        q1, q2, q3 = benchlib.quartiles(xs)
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(benchlib.iqr_share(xs), 5.5 / 5.5)

    def test_geomean(self):
        self.assertAlmostEqual(benchlib.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(benchlib.geomean([2.0, 8.0, 4.0]), 4.0)
        with self.assertRaises(ValueError):
            benchlib.geomean([1.0, 0.0])
        with self.assertRaises(ValueError):
            benchlib.geomean([])

    def test_end_to_end_uses_per_query_medians(self):
        setups = [{"create_ms": 1000.0, "warmup_ms": 500.0, "stage_fixtures_ms": 500.0},
                  {"create_ms": 100.0, "warmup_ms": 50.0, "stage_fixtures_ms": 50.0},
                  {"create_ms": 200.0, "warmup_ms": 100.0, "stage_fixtures_ms": 100.0}]
        samples = [sample("a", 1000.0), sample("a", 3000.0), sample("a", 2000.0),
                   sample("b", 500.0)]
        verify = {"a": {"heap_live_mb": 120.0}, "b": {"heap_live_mb": 300.0}}
        m = benchlib.end_to_end(setups, verify, samples)
        self.assertAlmostEqual(m["setup_s"], 0.4)
        self.assertAlmostEqual(m["pass_s"], 2.5)
        self.assertAlmostEqual(m["query_geomean_s"], math.sqrt(2.0 * 0.5))
        self.assertEqual(m["heap_live_mb"], 300.0)
        self.assertEqual(set(m), set(benchlib.END_TO_END))

    def test_layer_totals(self):
        def layers(run_ms, exchanges, skew):
            base = {name: 0.0 for name in benchlib.PER_LAYER}
            base.update({"scheduler.run_ms": run_ms, "plans.exchanges": exchanges,
                         "ops.shuffle_skew": skew})
            return base
        traced = [sample("a", 1000.0, True, layers=layers(2000.0, 2, 1.5), task_ms=[10, 30]),
                  sample("b", 1000.0, True, layers=layers(0.0, 3, 4.0), task_ms=[20])]
        untraced = [sample("a", 900.0), sample("b", 1100.0)]
        setups = [{"create_ms": 5.0, "warmup_ms": 6.0, "stage_fixtures_ms": 7.0}]
        per_query = benchlib.layer_per_query(traced)
        self.assertEqual(per_query["a"]["scheduler.task_p50_ms"], 20)
        t = benchlib.layer_totals(setups, per_query, traced, untraced, cores=4)
        self.assertEqual(set(t), set(benchlib.PER_LAYER))
        self.assertEqual(t["plans.exchanges"], 5.0)
        self.assertEqual(t["ops.shuffle_skew"], 4.0)
        self.assertEqual(t["scheduler.task_p50_ms"], 20.0)
        self.assertAlmostEqual(t["scheduler.busy_frac"], 2000.0 / (2000.0 * 4))
        self.assertAlmostEqual(t["trace.overhead_frac"], 0.0)
        self.assertEqual(t["GraftSession.warmup_ms"], 6.0)


class Permutation(unittest.TestCase):
    names = [f"q{i:02d}" for i in range(20)]

    def test_same_seed_same_order(self):
        self.assertEqual(benchlib.permutation(self.names, 7), benchlib.permutation(self.names, 7))

    def test_order_is_a_permutation(self):
        self.assertEqual(sorted(benchlib.permutation(self.names, 3)), sorted(self.names))

    def test_seeds_differ(self):
        orders = {tuple(benchlib.permutation(self.names, s)) for s in range(10)}
        self.assertGreater(len(orders), 1)

    def test_known_order(self):
        # pins the generator: a change here would silently re-order every run
        self.assertEqual(benchlib.permutation(["a", "b", "c", "d"], 1), ["d", "a", "c", "b"])


class Names(unittest.TestCase):
    def setUp(self):
        with open(BENCHMARK_JSON) as f:
            self.spec = json.load(f)

    def assertName(self, name):
        self.assertRegex(name, benchlib.NAME_RE)
        self.assertIsNotNone(benchlib.NAME_RE.fullmatch(name), name)
        self.assertLessEqual(len(name), 64)
        self.assertTrue(name[0].isalnum(), name)

    def test_every_name_is_well_formed(self):
        names = (list(benchlib.WORKLOADS) + list(benchlib.END_TO_END) + list(benchlib.PER_LAYER)
                 + [w["name"] for w in self.spec["workloads"]]
                 + [m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]])
        for n in names:
            self.assertName(n)

    def test_spec_matches_the_code(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(benchlib.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]},
                         benchlib.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["per_layer"]},
                         {k: u for k, (u, _) in benchlib.PER_LAYER.items()})

    def test_every_query_is_named_in_full(self):
        for w in benchlib.WORKLOADS.values():
            for q in w["queries"]:
                self.assertRegex(q, r"^q\d+_[a-z0-9_]+$")


if __name__ == "__main__":
    unittest.main()
