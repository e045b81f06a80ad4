"""Checks of the benchmark's own arithmetic and output canonicalization on
hand-built inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

from analysis import (exec_overhead, innermost, length, percentile, self_time,
                      subtract, tail_percentile, union)
from oracle import cell


class Percentiles(unittest.TestCase):

    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(percentile(xs, 50), 50)
        self.assertEqual(percentile(xs, 90), 90)
        self.assertEqual(percentile(xs, 99), 99)
        self.assertEqual(percentile(list(reversed(xs)), 75), 75)

    def test_tail_keeps_ten_samples_beyond(self):
        # 100 samples: p90 leaves 10 beyond, p95 only 5
        self.assertEqual(tail_percentile(100), 90)
        # 40 samples: p75 is rank 30, 10 beyond
        self.assertEqual(tail_percentile(40), 75)
        self.assertEqual(tail_percentile(1000), 99)
        self.assertEqual(tail_percentile(20), 50)

    def test_no_tail_percentile_for_a_small_sample(self):
        # fewer than 20 samples: even the median has under 10 beyond it
        self.assertIsNone(tail_percentile(19))
        self.assertIsNone(tail_percentile(16))
        self.assertEqual(percentile([3.0, 9.0, 4.0], 100), 9.0)


class Intervals(unittest.TestCase):

    def test_union_and_subtract(self):
        self.assertEqual(union([(5, 7), (0, 2), (1, 3), (7, 8)]), [(0, 3), (5, 8)])
        self.assertEqual(length([(0, 2), (1, 3), (10, 11)]), 4)
        self.assertEqual(subtract([(0, 10)], [(2, 3), (2.5, 4), (9, 12)]),
                         [(0, 2), (4, 9)])


class SelfTime(unittest.TestCase):

    def test_parallel_children_are_unioned(self):
        # an operation [0, 100] with a build [0, 20] and two jobs running in
        # parallel [30, 80] and [40, 90]; each job has a stage inside it
        spans = [
            {"id": 1, "layer": "op", "start": 0, "end": 100, "parent": -1},
            {"id": 2, "layer": "queries", "start": 0, "end": 20, "parent": 1},
            {"id": 3, "layer": "exec", "start": 30, "end": 80, "parent": 1},
            {"id": 4, "layer": "exec", "start": 40, "end": 90, "parent": 1},
            {"id": 5, "layer": "stage", "start": 35, "end": 75, "parent": 3},
            {"id": 6, "layer": "stage", "start": 50, "end": 85, "parent": 4},
        ]
        got = self_time(spans)
        # op: 100 minus children covering [0,20] and [30,90] -> 20
        self.assertEqual(got["op"], 20)
        self.assertEqual(got["queries"], 20)
        # exec self: job 3 keeps [30,35)+(75,80], job 4 keeps [40,50)+(85,90]
        self.assertEqual(got["exec"], 25)
        # stages overlap on [50,75]: union [35,85] = 50, not 40+35
        self.assertEqual(got["stage"], 50)
        # layers working in parallel overlap, so the sum may exceed the wall
        self.assertEqual(sum(got.values()), 115)

    def test_innermost_cause(self):
        spans = [{"id": 1, "start": 0, "end": 100}, {"id": 2, "start": 10, "end": 20}]
        self.assertEqual(innermost(spans, 15)["id"], 2)
        self.assertEqual(innermost(spans, 50)["id"], 1)
        self.assertIsNone(innermost(spans, 150))


class ExecOverhead(unittest.TestCase):

    def test_synthetic_stage_timeline(self):
        # two jobs: [0, 100] and [150, 200]; stages end at 60 (longest task
        # 40 -> critical [20, 60]), 100 (longest 30 -> [70, 100]) and 200
        # (longest 50 -> [150, 200]); two parallel stages overlap at [50, 60]
        jobs = [(0, 100), (150, 200)]
        stages = [(60, 40), (100, 30), (200, 50), (60, 10)]
        # job time 150; critical union [20,60]+[70,100]+[150,200] = 120
        self.assertEqual(exec_overhead(jobs, stages), 30)

    def test_no_jobs_no_overhead(self):
        self.assertEqual(exec_overhead([], [(10, 5)]), 0)


class Canonical(unittest.TestCase):

    def test_cells(self):
        self.assertEqual(cell(7), "7")
        self.assertEqual(cell(True), "True")
        self.assertEqual(cell("x"), "x")
        self.assertEqual(cell(2.0), "2.0")
        self.assertEqual(cell(1e15), "1e+15")
        self.assertEqual(cell(0.1 + 0.2), "0.3")
        self.assertEqual(cell(float("nan")), "NULL")
        self.assertEqual(cell(None), "NULL")


if __name__ == "__main__":
    unittest.main()
