"""Tests of the benchmark's own arithmetic, names and input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import tempfile
import unittest

import gen
import run
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_and_counts(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(stats.percentile(xs, 50), (50.0, 100, 50))
        self.assertEqual(stats.percentile(xs, 90), (90.0, 100, 10))
        self.assertEqual(stats.percentile([3.0], 90), (3.0, 1, 0))

    def test_failures_count_as_infinite(self):
        xs = [1.0] * 8 + [stats.INF] * 2
        self.assertEqual(stats.percentile(xs, 50)[0], 1.0)
        self.assertEqual(stats.percentile(xs, 80)[0], 1.0)
        v, n, above = stats.percentile(xs, 90)
        self.assertTrue(v == stats.INF and n == 10 and above == 0)
        self.assertEqual(stats.printable(v), stats.INF_PRINTED)

    def test_order_free(self):
        self.assertEqual(stats.percentile([5.0, 1.0, 3.0], 50), stats.percentile([1.0, 3.0, 5.0], 50))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class FailedFracTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.failed_frac(182, 8), 8 / 182)
        self.assertEqual(stats.failed_frac(10, 0), 0.0)

    def test_rejects_impossible_counts(self):
        for attempted, failed in [(0, 0), (5, 6), (5, -1)]:
            with self.assertRaises(ValueError):
                stats.failed_frac(attempted, failed)

    def test_failed_operations_move_the_latency_tail(self):
        res = {"setup_s": 5.0,
               "passes": [{"pass": 1, "traced": False, "secs": 4.0},
                          {"pass": 2, "traced": True, "secs": 8.0}],
               "ops": [{"name": "a", "pass": 1, "secs": 3.0, "error": "", "input_bytes": 10**6},
                       {"name": "b", "pass": 1, "secs": 1.0, "error": "mismatch",
                        "input_bytes": 10**6}]}
        m, info = run.end_to_end(res)
        self.assertEqual(m["query_p50_s"], 3.0)
        self.assertEqual(info["p90"], stats.INF_PRINTED)
        self.assertEqual(info["samples"], 2)
        self.assertEqual(m["setup_s"], 5.0)
        self.assertEqual(m["wall_s"], 4.0)  # traced passes are not timed
        self.assertEqual(m["input_mb_per_s"], 0.5)


class NameGrammarTest(unittest.TestCase):
    def test_grammar(self):
        for good in ["wall_s", "sched.floor_s", "q-1", "9x"]:
            self.assertTrue(stats.valid_name(good), good)
        for bad in ["", "_x", ".x", "a b", "a/b", "x" * 65]:
            self.assertFalse(stats.valid_name(bad), bad)
        for good in ["s", "MB/s", "count", "%", "1/s"]:
            self.assertTrue(stats.valid_unit(good), good)
        self.assertFalse(stats.valid_unit("m s"))

    def test_benchmark_file_matches_the_code(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], run.PER_LAYER)
        names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in b[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertTrue(stats.valid_unit(m["unit"]), m["unit"])
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))


class GeneratorTest(unittest.TestCase):
    def digest(self, d):
        h = hashlib.sha256()
        for t in gen.TABLES:
            with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
                h.update(f.read())
        return h.hexdigest()

    def test_seed_determines_inputs(self):
        with tempfile.TemporaryDirectory() as tmp:
            a, b, c = (os.path.join(tmp, x) for x in "abc")
            self.assertTrue(gen.generate(a, 0.001, 1))
            self.assertFalse(gen.generate(a, 0.001, 1))  # cached
            gen.generate(b, 0.001, 1)
            gen.generate(c, 0.001, 2)
            self.assertEqual(self.digest(a), self.digest(b))
            self.assertNotEqual(self.digest(a), self.digest(c))

    def test_limit_columns_have_no_ties(self):
        t = gen.base_tables(0.01, 3)
        for table, column in [("customer", "c_acctbal"), ("supplier", "s_acctbal"),
                              ("orders", "o_totalprice"), ("lineitem", "l_extendedprice")]:
            col = t[table][column].to_pylist()
            self.assertEqual(len(col), len(set(col)), column)


if __name__ == "__main__":
    unittest.main()
