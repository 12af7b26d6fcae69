"""Tests for the benchmark's arithmetic: python3 -m unittest discover perfbench/tests"""
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):

    def test_highest_percentile_keeps_ten_samples_beyond(self):
        for n in (11, 20, 37, 100, 114, 1000):
            xs = list(range(n))
            p = metrics.tail_percentile(n)
            v = metrics.nearest_rank(xs, p)
            self.assertEqual(sum(1 for x in xs if x > v), 10, n)
            # any higher percentile leaves fewer than ten beyond
            higher = metrics.nearest_rank(xs, min(100.0, p + 100.0 / n))
            self.assertLess(sum(1 for x in xs if x > higher), 10, n)

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(metrics.tail_percentile(10))
        self.assertIsNone(metrics.tail_percentile(3))

    def test_p90_is_allowed_from_one_hundred_samples(self):
        self.assertGreaterEqual(metrics.tail_percentile(100), 90.0)
        self.assertLess(metrics.tail_percentile(99), 90.0)

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.nearest_rank(xs, 50), 3)
        self.assertEqual(metrics.nearest_rank(xs, 100), 5)
        self.assertEqual(metrics.nearest_rank(xs, 1), 1)


class SelfTime(unittest.TestCase):

    def test_nested_spans(self):
        spans = [("op", 0, 10, None), ("construct", 0, 4, 0), ("job", 1, 3, 1),
                 ("action", 4, 10, 0), ("stage", 5, 9, 3)]
        got = metrics.self_times(spans)
        self.assertEqual(got, {"construct": 2, "job": 2, "action": 2, "stage": 4})
        self.assertAlmostEqual(sum(got.values()), 10)

    def test_root_keeps_uncovered_time(self):
        got = metrics.self_times([("op", 0, 10, None), ("construct", 2, 5, 0)])
        self.assertEqual(got, {"op": 7, "construct": 3})

    def test_parallel_siblings_share_time(self):
        spans = [("action", 0, 10, None), ("job", 0, 6, 0), ("job", 4, 10, 0)]
        got = metrics.self_times(spans)
        self.assertAlmostEqual(got["job"], 10)
        self.assertNotIn("action", got)

    def test_child_is_clipped_to_parent(self):
        got = metrics.self_times([("op", 0, 4, None), ("job", 2, 9, 0)])
        self.assertEqual(got, {"op": 2, "job": 2})

    def test_layers_never_sum_past_the_root(self):
        rnd = random.Random(7)
        for _ in range(200):
            spans = [("op", 0.0, 100.0, None)]
            for _ in range(rnd.randint(1, 12)):
                parent = rnd.randrange(len(spans))
                s = rnd.uniform(-10, 110)
                spans.append((rnd.choice("abc"), s, s + rnd.uniform(0, 60), parent))
            self.assertLessEqual(sum(metrics.self_times(spans).values()), 100.0 + 1e-9)


class OpTree(unittest.TestCase):

    def test_spans_land_under_their_phase_and_job(self):
        op = {"t0": 0, "t1": 4, "t2": 10,
              "spans": [["catalyst", 1, 2], ["job", 5, 9], ["stage", 6, 8], ["catalyst", 4.5, 5]]}
        tree = metrics.op_tree(op)
        parents = {(l, s): tree[p][0] for l, s, _, p in tree if p is not None}
        self.assertEqual(parents[("catalyst", 1)], "construct")
        self.assertEqual(parents[("catalyst", 4.5)], "action")
        self.assertEqual(parents[("job", 5)], "action")
        self.assertEqual(parents[("stage", 6)], "job")
        got = metrics.self_times(tree)
        self.assertAlmostEqual(sum(got.values()), 10)


if __name__ == "__main__":
    unittest.main()
