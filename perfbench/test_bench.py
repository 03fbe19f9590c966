"""Unit checks of the benchmark's own code (no Spark, no build):

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The Scala twin of the result hash is checked against the same vectors by
src/test/scala/graftbench/RowHashSpec.scala (`sbt test` in perfbench/).
"""

import datetime as dt
import decimal
import json
import os
import random
import statistics
import unittest

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


class SummaryStats(unittest.TestCase):
    def test_percentile_interpolates_between_ranks(self):
        xs = [10, 20, 30, 40]
        self.assertEqual(stats.percentile(xs, 0), 10)
        self.assertEqual(stats.percentile(xs, 100), 40)
        self.assertAlmostEqual(stats.percentile(xs, 50), 25.0)
        self.assertAlmostEqual(stats.percentile(xs, 95), 38.5)
        self.assertEqual(stats.percentile([7], 95), 7)

    def test_percentile_ignores_input_order(self):
        xs = [random.Random(1).random() for _ in range(101)]
        ys = sorted(xs, reverse=True)
        self.assertEqual(stats.percentile(xs, 95), stats.percentile(ys, 95))
        self.assertEqual(stats.median(xs), statistics.median(xs))

    def test_incomplete_beta_closed_forms(self):
        for x in (0.05, 0.3, 0.5, 0.77, 0.99):
            self.assertAlmostEqual(stats.betainc(1, 1, x), x, places=12)
            self.assertAlmostEqual(stats.betainc(3.5, 1, x), x ** 3.5, places=12)
            self.assertAlmostEqual(stats.betainc(1, 2.5, x), 1 - (1 - x) ** 2.5, places=12)
            self.assertAlmostEqual(stats.betainc(2.3, 7.1, x),
                                   1 - stats.betainc(7.1, 2.3, 1 - x), places=12)
        self.assertEqual(stats.betainc(2.0, 3.0, 0.0), 0.0)
        self.assertEqual(stats.betainc(2.0, 3.0, 1.0), 1.0)

    def test_harrell_davis_quantile(self):
        self.assertAlmostEqual(stats.hd_quantile([5.0] * 7, 95), 5.0)
        self.assertAlmostEqual(stats.hd_quantile([1, 3], 50), 2.0)
        self.assertAlmostEqual(stats.hd_quantile([1, 2, 3, 4, 5], 50), 3.0)
        rnd = random.Random(2)
        xs = [rnd.expovariate(1.0) for _ in range(80)]
        self.assertEqual(stats.hd_quantile(xs, 95), stats.hd_quantile(sorted(xs), 95))
        qs = [stats.hd_quantile(xs, q) for q in (5, 25, 50, 75, 95)]
        self.assertEqual(qs, sorted(qs))
        self.assertLess(min(xs), qs[0])
        self.assertLess(qs[-1], max(xs))

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 2, 2]), 2.0)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])

    def test_quartile_spread_matches_statistics_quantiles(self):
        vals = [9.0, 10.0, 10.5, 11.0, 12.0, 10.2, 9.8, 10.1, 10.4, 30.0]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(stats.quartile_spread(vals), (q3 - q1) / q2)
        self.assertEqual(stats.quartile_spread([5.0] * 10), 0.0)


class ResultHash(unittest.TestCase):
    COLS = ["b", "a", "ts"]
    ROWS = [
        (1.5, "x", dt.datetime(2024, 7, 1, 12, 0, 0, 250)),
        (None, "y", dt.datetime(1969, 12, 31, 23, 59, 59)),
        (2.0, "z", None),
    ]

    def test_permutation_invariant(self):
        h = stats.result_hash(self.COLS, self.ROWS)
        rows = list(self.ROWS)
        for seed in range(5):
            random.Random(seed).shuffle(rows)
            self.assertEqual(stats.result_hash(self.COLS, rows), h)

    def test_column_order_invariant(self):
        cols = ["ts", "b", "a"]
        rows = [(r[2], r[0], r[1]) for r in self.ROWS]
        self.assertEqual(stats.result_hash(cols, rows), stats.result_hash(self.COLS, self.ROWS))

    def test_one_changed_value_changes_the_hash(self):
        h = stats.result_hash(self.COLS, self.ROWS)[1]
        changed = [self.ROWS[0], ("changed",) + self.ROWS[1][1:], self.ROWS[2]]
        self.assertNotEqual(stats.result_hash(self.COLS, changed)[1], h)
        changed = [(1.5000001,) + self.ROWS[0][1:]] + self.ROWS[1:]
        self.assertNotEqual(stats.result_hash(self.COLS, changed)[1], h)

    def test_duplicates_count(self):
        one = stats.result_hash(["a"], [(1,)])
        two = stats.result_hash(["a"], [(1,), (1,)])
        self.assertEqual(two[0], 2)
        self.assertNotEqual(one[1], two[1])

    def test_numbers_render_engine_independently(self):
        c = stats.canon
        self.assertEqual(c(3), "3")
        self.assertEqual(c(3.0), "3")
        self.assertEqual(c(decimal.Decimal("3.00")), "3")
        self.assertEqual(c(-0.0), "0")
        self.assertEqual(c(0.1), "0.1")
        self.assertEqual(c(0.1 + 0.2), "0.3")  # last-ulp noise is rounded away
        self.assertEqual(c(13237001.475), "13237001.475")
        self.assertEqual(c(1e20), "100000000000000000000")
        self.assertEqual(c(float("nan")), "nan")
        self.assertEqual(c(dt.date(2024, 7, 3)), "D2024-07-03")
        self.assertEqual(c(dt.datetime(1970, 1, 1, 0, 0, 1)), "T1000000")
        self.assertEqual(c([1, None, 2.5]), "[1,\\N,2.5]")
        self.assertEqual(c({"x": 1, "y": "s"}), "(1,s)")

    def test_shared_vectors_match_the_scala_twin(self):
        # the same vectors and hashes are asserted by RowHashSpec.scala
        with open(os.path.join(HERE, "src", "test", "resources", "hash_vectors.json")) as f:
            vec = json.load(f)
        for case in vec["cases"]:
            rows = [tuple(r) for r in case["rows"]]
            self.assertEqual(list(stats.result_hash(case["columns"], rows)),
                             [case["count"], case["hash"]], case["columns"])


class Attribution(unittest.TestCase):
    def test_stages_follow_stage_ids_not_the_latest_job(self):
        # job 1 (op 10) starts, then job 2 (op 20) starts; a stage of job 1
        # completes while job 2 is the latest running job
        jobs = [
            {"job": 1, "op": 10, "start_ms": 0, "stage_ids": [5, 6]},
            {"job": 2, "op": 20, "start_ms": 5, "stage_ids": [7]},
            {"job": 2, "end_ms": 20},
            {"job": 1, "end_ms": 30},
        ]
        stages = [{"stage": 7, "tasks": 2}, {"stage": 6, "tasks": 4}, {"stage": 5, "tasks": 1}]
        by_op = stats.attribute_stages(jobs, stages)
        self.assertEqual(sorted(s["stage"] for s in by_op[10]), [5, 6])
        self.assertEqual([s["stage"] for s in by_op[20]], [7])

    def test_shared_stage_goes_to_the_first_job(self):
        jobs = [{"job": 3, "op": 1, "stage_ids": [9]}, {"job": 4, "op": 2, "stage_ids": [9, 10]}]
        by_op = stats.attribute_stages(jobs, [{"stage": 9}, {"stage": 10}])
        self.assertEqual([s["stage"] for s in by_op[1]], [9])
        self.assertEqual([s["stage"] for s in by_op[2]], [10])

    def test_unknown_stage_is_dropped(self):
        self.assertEqual(stats.attribute_stages([], [{"stage": 1}]), {})

    def test_job_intervals_merge_start_and_end(self):
        iv = stats.job_intervals([{"job": 1, "op": 3, "start_ms": 5, "stage_ids": []},
                                  {"job": 1, "end_ms": 9}])
        self.assertEqual(iv[1], {"op": 3, "start_ms": 5, "end_ms": 9})

    def test_covered_ms_unions_and_clips(self):
        self.assertEqual(stats.covered_ms([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(stats.covered_ms([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(stats.covered_ms([], 0, 10), 0)


if __name__ == "__main__":
    unittest.main()
