"""Unit tests of the benchmark's metric rules.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(0))
        self.assertIsNone(metrics.tail_percentile(19))   # p50 leaves 9.5
        self.assertEqual(metrics.tail_percentile(20), 50.0)
        self.assertEqual(metrics.tail_percentile(39), 50.0)  # p75 leaves 9.75
        self.assertEqual(metrics.tail_percentile(40), 75.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(199), 90.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_tail_value_and_sample_count(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(metrics.tail(xs), (90, 90.0, 100))
        self.assertEqual(metrics.tail([5.0] * 12), (0.0, 0.0, 12))

    def test_nearest_rank(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2)
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 75), 3)
        self.assertEqual(metrics.percentile([7], 99.9), 7)


class UnionOfIntervals(unittest.TestCase):
    def test_union(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(metrics.union_length([(0, 10)]), 10)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15)]), 15)     # overlap
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)      # nested
        self.assertEqual(metrics.union_length([(0, 1), (2, 3)]), 2)        # disjoint
        self.assertEqual(metrics.union_length([(2, 3), (0, 1), (1, 2)]), 3)  # touching
        self.assertEqual(metrics.union_length([(4, 4), (5, 3)]), 0.0)      # empty

    def test_driver_gap_is_wall_minus_union_of_jobs(self):
        # an operation from 0 to 100 ms with jobs [10,30], [20,40] and one
        # that started before it and ran into it: [-5, 5]
        jobs = [(10, 30), (20, 40), (-5, 5)]
        covered = metrics.union_length(metrics.clipped(jobs, 0, 100))
        self.assertEqual(covered, 35)
        self.assertEqual(100 - covered, 65)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_children_only(self):
        spans = [
            {"id": 1, "parent": -1, "t0": 0, "t1": 100},
            {"id": 2, "parent": 1, "t0": 10, "t1": 40},
            {"id": 3, "parent": 1, "t0": 30, "t1": 50},    # overlaps 2
            {"id": 4, "parent": 2, "t0": 15, "t1": 35},    # grandchild of 1
            {"id": 5, "parent": 1, "t0": 90, "t1": 120},   # runs past its parent
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - (40 + 10))  # [10,50] and [90,100]
        self.assertEqual(st[2], 30 - 20)
        self.assertEqual(st[3], 20)
        self.assertEqual(st[4], 20)
        self.assertEqual(st[5], 30)


class BenchmarkFile(unittest.TestCase):
    def test_benchmark_json_lists_exactly_the_reported_metrics(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        b = json.load(open(path))
        self.assertEqual([w["name"] for w in b["workloads"]], list(metrics.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
                         list(metrics.END_TO_END))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         list(metrics.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
