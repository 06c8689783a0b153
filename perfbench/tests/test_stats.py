"""Self-tests of the benchmark's pure logic:
    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pb import layers, stats  # noqa: E402


def span(name, start, end, query=0, **kw):
    return dict(name=name, start_ns=start, end_ns=end, query=query, **kw)


class PercentileRule(unittest.TestCase):
    def test_interpolated(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 90.1)
        self.assertAlmostEqual(stats.percentile(list(reversed(xs)), 90), 90.1)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)
        # six samples: p90 lies halfway between the two largest
        self.assertEqual(stats.percentile([1, 2, 3, 4, 10, 20], 90), 15)

    def test_ten_beyond_needs_a_hundred_samples(self):
        t = stats.tail(list(range(100)), 90, 10)
        self.assertEqual((t["samples"], t["beyond"], t["ok"]), (100, 10, True))
        t = stats.tail(list(range(91)), 90, 10)
        self.assertEqual((t["beyond"], t["ok"]), (9, False))
        t = stats.tail(list(range(12)), 90, 10)
        self.assertEqual((t["beyond"], t["ok"]), (2, False))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 90)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        parent = span("query", 0, 100)
        kids = [span("spark.job", 10, 20), span("spark.job", 15, 30)]
        self.assertEqual(stats.self_time(parent, kids), 80)

    def test_children_are_clipped_to_the_parent(self):
        parent = span("query", 0, 100)
        kids = [span("spark.job", -50, 10), span("spark.job", 90, 200),
                span("spark.job", 300, 400)]
        self.assertEqual(stats.self_time(parent, kids), 80)

    def test_nested_and_disjoint(self):
        parent = span("query", 0, 100)
        kids = [span("a", 10, 60), span("b", 20, 30), span("c", 70, 80)]
        self.assertEqual(stats.self_time(parent, kids), 40)
        self.assertEqual(stats.self_time(parent, []), 100)


class FailureCounting(unittest.TestCase):
    def test_each_kind_counts_once_per_execution(self):
        execs = [
            {"name": "a", "error": None, "digest": ""},
            {"name": "b", "error": "boom", "digest": ""},
            {"name": "c", "error": None, "digest": ""},       # failed its check
            {"name": "c", "error": None, "digest": ""},
            {"name": "d", "error": None, "digest": "x", "expected_digest": "x"},
            {"name": "d", "error": None, "digest": "y", "expected_digest": "x"},
            {"name": "e", "error": "boom", "digest": ""},     # both at once
        ]
        checks = {"c": "rows differ", "e": "no output"}
        self.assertEqual(stats.count_failures(execs, checks), (7, 5))

    def test_clean_run(self):
        execs = [{"name": "a", "error": None, "digest": "x", "expected_digest": "x"}]
        self.assertEqual(stats.count_failures(execs, {}), (1, 0))


class SeededOrder(unittest.TestCase):
    names = ["x%02d" % i for i in range(40)]

    def test_same_seed_same_order(self):
        self.assertEqual(stats.seeded_order(self.names, 7), stats.seeded_order(self.names, 7))
        self.assertEqual(stats.seeded_order(self.names, 7),
                         stats.seeded_order(list(reversed(self.names)), 7))

    def test_is_a_permutation_that_moves_with_the_seed(self):
        a, b = stats.seeded_order(self.names, 1), stats.seeded_order(self.names, 2)
        self.assertEqual(sorted(a), sorted(self.names))
        self.assertNotEqual(a, b)

    def test_pinned(self):
        # the order for a seed must not drift between Python versions or
        # edits: runs of one seed on two commits must time the same order
        self.assertEqual(stats.seeded_order(["a", "b", "c", "d", "e"], 3),
                         ["a", "c", "d", "e", "b"])


class Layers(unittest.TestCase):
    def test_self_time_and_construct_jobs(self):
        spans = [
            span("query", 0, 1000, id=1, parent=0),
            span("queries.construct", 0, 400, id=2, parent=1),
            span("exec.materialize", 400, 1000, id=3, parent=1),
            span("spark.job", 100, 300),
            span("spark.job", 500, 900),
            span("tables.register", -5000, -1000, query=-1),
        ]
        counters = [{"query": 0, "jobs": 2, "stages": 3, "tasks": 4, "tasks_ok": 3,
                     "task_run_s": 2.0, "task_cpu_s": 1.0, "gc_s": 0.0,
                     "sched_delay_s": 0.1, "shuffle_write_bytes": 10,
                     "shuffle_read_bytes": 10, "spill_bytes": 0, "input_bytes": 5,
                     "input_records": 1}]
        m = layers.derive(spans, counters, [{"rows": 0}], rounds=1, timed_s=2.0)
        self.assertEqual(set(m), set(layers.METRICS))
        self.assertAlmostEqual(m["query.self_s"], 400e-9)
        self.assertEqual(m["queries.construct_jobs"], 1)
        self.assertAlmostEqual(m["tables.register_s"], 4000e-9)
        self.assertEqual(m["spark.tasks_ok_ratio"], 0.75)
        self.assertEqual(m["spark.cpu_per_run"], 0.5)
        self.assertEqual(m["trace.throughput_qps"], 0.5)


if __name__ == "__main__":
    unittest.main()
