"""Span-tree math on synthetic traces.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from spans import children_of, link, percentile, self_ms, tail_percentile, union_ms  # noqa: E402


def span(name, start, end, **kw):
    return dict(name=name, start=float(start), end=float(end), **kw)


class IntervalUnion(unittest.TestCase):
    def test_disjoint_overlapping_nested_and_touching(self):
        self.assertEqual(union_ms([]), 0.0)
        self.assertEqual(union_ms([(0, 10), (20, 25)]), 15.0)
        self.assertEqual(union_ms([(0, 10), (5, 15)]), 15.0)
        self.assertEqual(union_ms([(0, 100), (10, 20), (30, 40)]), 100.0)
        self.assertEqual(union_ms([(0, 10), (10, 20)]), 20.0)

    def test_order_free_and_ignores_empty(self):
        self.assertEqual(union_ms([(30, 40), (0, 10), (5, 12), (7, 7), (50, 45)]), 22.0)


class SelfTime(unittest.TestCase):
    def test_children_subtracted_once_even_when_they_overlap(self):
        parent = span("dsl.run", 0, 100)
        kids = [span("exec.job", 10, 40), span("catalyst.planning", 30, 50), span("exec.job", 60, 70)]
        self.assertEqual(self_ms(parent, kids), 100 - 50)

    def test_children_clipped_to_parent(self):
        parent = span("dsl.run", 0, 100)
        self.assertEqual(self_ms(parent, [span("exec.job", -20, 10), span("exec.job", 90, 150)]), 80.0)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(self_ms(span("exec.stage", 5, 9), []), 4.0)


class Percentiles(unittest.TestCase):
    def test_linear_interpolation(self):
        v = [1, 2, 3, 4, 5]
        self.assertEqual(percentile(v, 50), 3)
        self.assertEqual(percentile(v, 0), 1)
        self.assertEqual(percentile(v, 100), 5)
        self.assertAlmostEqual(percentile([10, 20], 25), 12.5)
        self.assertIsNone(percentile([], 50))

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(tail_percentile(39))
        self.assertEqual(tail_percentile(40), 75)
        self.assertEqual(tail_percentile(100), 90)
        self.assertEqual(tail_percentile(200), 95)
        self.assertEqual(tail_percentile(1000), 99)


class Linking(unittest.TestCase):
    """One op with a run phase (one job of two stages, one planning phase)
    and a collect phase (one job), plus a streaming batch with its own job."""

    def trace(self):
        ops = [{"id": "a-1", "tenant": "a", "start": 0.0, "end": 100.0}]
        raw = [
            span("client.op", 0, 100, op="a-1", tenant="a"),
            span("dsl.run", 0, 80, op="a-1", tenant="a"),
            span("client.collect", 80, 100, op="a-1", tenant="a"),
            span("catalyst.planning", 5, 15, tenant="a"),
            span("catalyst.action", 15, 15, tenant="a"),
            span("catalyst.action", 0, 0, tenant="b"),
            span("exec.job.start", 20, 20, job=1, op="a-1"),
            span("exec.job.end", 60, 60, job=1),
            span("exec.stage", 20, 40, stage=1, job=1),
            span("exec.stage", 40, 60, stage=2, job=1),
            span("exec.job.start", 85, 85, job=2, op="a-1"),
            span("exec.job.end", 95, 95, job=2),
            span("streaming.batch", 200, 300, batch=0),
            span("exec.job.start", 210, 210, job=3, op=""),
            span("exec.job.end", 290, 290, job=3),
        ]
        return link(raw, ops)

    def test_parents(self):
        by = {s["id"]: s for s in self.trace()}
        self.assertIsNone(by["op:a-1"]["parent"])
        self.assertEqual(by["dsl.run:a-1"]["parent"], "op:a-1")
        self.assertEqual(by["job:1"]["parent"], "dsl.run:a-1")
        self.assertEqual(by["job:2"]["parent"], "client.collect:a-1")
        self.assertEqual(by["stage:1"]["parent"], "job:1")
        self.assertEqual(by["job:3"]["parent"], "batch:0")
        planning = [s for s in by.values() if s["name"] == "catalyst.planning"][0]
        self.assertEqual(planning["parent"], "dsl.run:a-1")
        self.assertEqual(planning["op"], "a-1")
        actions = sorted((s for s in by.values() if s["name"] == "catalyst.action"), key=lambda s: s["start"])
        # an action of another session, or one with no planning time, hangs nowhere
        self.assertEqual([(s["parent"], s["op"]) for s in actions], [(None, None), ("dsl.run:a-1", "a-1")])

    def test_layer_self_times_add_up_to_the_op(self):
        spans = [s for s in self.trace() if s["op"] == "a-1"]
        kids = children_of(spans)
        per_layer = {}
        for s in spans:
            per_layer[s["layer"]] = per_layer.get(s["layer"], 0.0) + self_ms(s, kids.get(s["id"], []))
        # run 80 = planning 10 + job 40 (all in its two stages) + dsl gap 30;
        # collect 20 = job 10 + client gap 10; the op itself adds nothing
        self.assertEqual(per_layer["dsl"], 30.0)
        self.assertEqual(per_layer["catalyst"], 10.0)
        self.assertEqual(per_layer["exec"], 40.0 + 10.0)
        self.assertEqual(per_layer["client"], 10.0)
        self.assertEqual(sum(per_layer.values()), 100.0)


if __name__ == "__main__":
    unittest.main()
