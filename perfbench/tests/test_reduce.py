"""Tests of the benchmark's reductions.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import reduce as rd  # noqa: E402


class TailRule(unittest.TestCase):

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        # p99: 1 beyond, p95: 5, p90: exactly 10 beyond -> p90
        self.assertEqual(rd.tail(xs), (90.0, 90, 10))

    def test_more_samples_move_the_tail_up(self):
        xs = list(range(1, 1001))  # p99 has 10 beyond
        self.assertEqual(rd.tail(xs), (99.0, 990, 10))

    def test_order_does_not_matter(self):
        xs = list(range(1, 101))
        self.assertEqual(rd.tail(list(reversed(xs))), rd.tail(xs))

    def test_just_below_a_step(self):
        xs = list(range(1, 40))  # 39 samples: p75 rank 30 leaves 9 -> p50
        p, v, beyond = rd.tail(xs)
        self.assertEqual((p, v), (50.0, 20))
        self.assertGreaterEqual(beyond, 10)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(rd.tail([3.0, 1.0, 2.0]), (100.0, 3.0, 0))


def span(start, end, parent=None):
    return {"start": start, "end": end, "parent": parent}


class SelfTime(unittest.TestCase):

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(rd.self_times({"a": span(0, 5)}), {"a": 5})

    def test_children_are_subtracted(self):
        s = rd.self_times({"op": span(0, 10), "x": span(1, 3, "op"), "y": span(5, 9, "op")})
        self.assertEqual(s, {"op": 4, "x": 2, "y": 4})

    def test_self_times_add_up_to_root_wall(self):
        spans = {"op": span(0, 100), "call": span(60, 100, "op"),
                 "e1": span(10, 40, "op"), "e2": span(15, 20, "e1"),
                 "e3": span(70, 90, "call")}
        s = rd.self_times(spans)
        self.assertEqual(sum(s.values()), 100)

    def test_overlapping_children_are_covered_once(self):
        s = rd.self_times({"op": span(0, 10), "x": span(2, 6, "op"), "y": span(4, 8, "op")})
        self.assertEqual(s["op"], 4)

    def test_clip_keeps_children_inside_parent(self):
        spans = rd.clip({"op": span(10, 20), "x": span(8, 25, "op"), "y": span(30, 40, "op")})
        self.assertEqual((spans["x"]["start"], spans["x"]["end"]), (10, 20))
        self.assertEqual((spans["y"]["start"], spans["y"]["end"]), (20, 20))
        s = rd.self_times(spans)
        self.assertEqual(sum(s.values()), 10)


class AttachExecs(unittest.TestCase):

    def test_innermost_holder_and_nesting(self):
        bench = [{"id": "s0", "start": 0, "end": 100}, {"id": "s1", "start": 50, "end": 100}]
        execs = [{"id": 1, "root": 1, "start_ms": 10, "end_ms": 20, "counts": {}},
                 {"id": 2, "root": 2, "start_ms": 60, "end_ms": 70, "counts": {}},
                 {"id": 3, "root": 2, "start_ms": 62, "end_ms": 65, "counts": {}},
                 {"id": 4, "root": 4, "start_ms": 200, "end_ms": 210, "counts": {}}]
        kept = rd.attach_execs(bench, execs)
        self.assertEqual({k: v["parent"] for k, v in kept.items()},
                         {"e1": "s0", "e2": "s1", "e3": "e2"})

    def test_nested_execution_goes_under_the_one_that_holds_it(self):
        # a command (10) runs a query (11) that runs the write (12): 12 lies
        # inside 11, and both name 10 as their root
        bench = [{"id": "s0", "start": 0, "end": 100}]
        execs = [{"id": 10, "root": 10, "start_ms": 5, "end_ms": 90, "counts": {}},
                 {"id": 11, "root": 10, "start_ms": 6, "end_ms": 80, "counts": {}},
                 {"id": 12, "root": 10, "start_ms": 7, "end_ms": 70, "counts": {}},
                 {"id": 13, "root": 10, "start_ms": 82, "end_ms": 85, "counts": {}}]
        kept = rd.attach_execs(bench, execs)
        self.assertEqual({k: v["parent"] for k, v in kept.items()},
                         {"e10": "s0", "e11": "e10", "e12": "e11", "e13": "e10"})
        spans = {"s0": span(0, 100)}
        spans.update(kept)
        self.assertEqual(sum(rd.self_times(rd.clip(spans)).values()), 100)


if __name__ == "__main__":
    unittest.main()
