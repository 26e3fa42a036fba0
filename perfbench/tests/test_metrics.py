"""Unit tests of the benchmark's pure metric helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lib import metrics  # noqa: E402


def span(id, start, end, parent=None, op=0, layer="sync", name="sync.x"):
    return {"id": id, "op": op, "parent": parent, "start_ms": start,
            "end_ms": end, "layer": layer, "name": name}


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(metrics.percentile(xs, 0.0), 1.0)
        self.assertEqual(metrics.percentile(xs, 1.0), 4.0)
        self.assertAlmostEqual(metrics.percentile(xs, 0.5), 2.5)
        self.assertAlmostEqual(metrics.percentile(xs, 0.75), 3.25)
        self.assertAlmostEqual(metrics.percentile(xs, 0.9), 3.7)

    def test_matches_statistics_inclusive(self):
        xs = [0.31, 0.45, 0.29, 1.7, 0.52, 0.61, 0.33, 0.9, 2.4, 0.47, 0.38]
        q = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(metrics.percentile(xs, 0.25), q[0])
        self.assertAlmostEqual(metrics.percentile(xs, 0.5), q[1])
        self.assertAlmostEqual(metrics.percentile(xs, 0.75), q[2])
        self.assertAlmostEqual(metrics.median(xs), statistics.median(xs))

    def test_single_value_and_errors(self):
        self.assertEqual(metrics.percentile([7.0], 0.9), 7.0)
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)
        with self.assertRaises(ValueError):
            metrics.percentile([1.0], 1.5)


class IntervalTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_union_clips(self):
        self.assertEqual(metrics.union_length([(0, 10), (12, 30)], 5, 20), 13)
        self.assertEqual(metrics.union_length([(0, 4)], 5, 20), 0)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [span(0, 0, 1000), span(1, 100, 300, parent=0),
                 span(2, 500, 900, parent=0), span(3, 600, 700, parent=2)]
        own = metrics.self_times(spans)
        self.assertAlmostEqual(own[0], 0.4)   # 1000 - 200 - 400 ms
        self.assertAlmostEqual(own[1], 0.2)
        self.assertAlmostEqual(own[2], 0.3)   # 400 - 100 ms
        self.assertAlmostEqual(own[3], 0.1)
        # every millisecond belongs to exactly one span
        self.assertAlmostEqual(sum(own.values()), 1.0)

    def test_overlapping_children_count_once_and_are_clipped(self):
        spans = [span(0, 0, 100), span(1, 10, 60, parent=0),
                 span(2, 40, 130, parent=0)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 0.01)

    def test_nest_picks_innermost_span_of_the_same_op(self):
        spans = [span(0, 0, 1000), span(1, 100, 600, parent=0),
                 span(2, 200, 300, parent=1), span(9, 0, 1000, op=1)]
        jobs = [{"op": 0, "start_ms": 250, "end_ms": 280},
                {"op": 0, "start_ms": 400, "end_ms": 450},
                {"op": 0, "start_ms": 700, "end_ms": 800},
                {"op": 2, "start_ms": 10, "end_ms": 20}]
        parents = [j["parent"] for j in metrics.nest(spans, jobs)]
        self.assertEqual(parents, [2, 1, 0, None])


def record(*walls):
    """A run record of passes with the given (wall_s, traced) pairs."""
    passes, ops = [], []
    t = 0.0
    for i, (wall, traced) in enumerate(walls):
        passes.append({"index": i, "traced": traced, "start_ms": t,
                       "end_ms": t + wall * 1e3, "wall_s": wall})
        # two ops per pass: 40% and 60% of the pass
        ops.append({"id": 2 * i, "pass": i, "start_ms": t,
                    "end_ms": t + 0.4 * wall * 1e3})
        ops.append({"id": 2 * i + 1, "pass": i, "start_ms": t + 0.4 * wall * 1e3,
                    "end_ms": t + wall * 1e3})
        t += wall * 1e3 + 100
    return {"passes": passes, "ops": ops, "cores": 4,
            "setup": {"jvm_start_ms": 1000.0, "session_ready_ms": 5000.0,
                      "prepare_s": [3.0, 1.0, 1.5], "warmup_s": 7.0},
            "peak_rss_kb": 2048 * 1024,
            "trace_record": {"spans": [], "jobs": [], "stages": [],
                             "executions": []}}


class MetricTest(unittest.TestCase):
    def test_end_to_end_uses_untraced_passes_only(self):
        r = record((10.0, False), (12.0, False), (50.0, True))
        m = metrics.end_to_end(r)
        self.assertAlmostEqual(m["setup_s"], 4.0 + 1.5 + 7.0)
        self.assertAlmostEqual(m["wall_s"], 11.0)
        self.assertAlmostEqual(m["peak_rss_mb"], 2048.0)
        # latencies 4, 6, 4.8, 7.2
        self.assertAlmostEqual(m["op_p50_s"], 5.4)
        self.assertAlmostEqual(m["op_p75_s"], 6.3)

    def test_per_layer_overhead_and_client_self_time(self):
        r = record((14.0, False), (11.0, True), (10.4, False))
        m = metrics.per_layer(r)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.6)
        # no layer spans: the whole op is client time
        self.assertAlmostEqual(m["client.self_s"], 11.0)
        self.assertEqual(m["spark.jobs"], 0)

    def test_overhead_pairs_each_traced_pass_with_the_next_untraced(self):
        # the slow lead-in pass (20 s) is in no pair: pairs 0.5 and 1.0
        r = record((20.0, False), (10.5, True), (10.0, False),
                   (11.0, True), (10.0, False))
        self.assertAlmostEqual(metrics.per_layer(r)["trace.overhead_s"], 0.75)

    def test_per_layer_needs_an_untraced_pass_after_each_traced_one(self):
        with self.assertRaises(ValueError):
            metrics.per_layer(record((10.0, False)))
        with self.assertRaises(ValueError):
            metrics.per_layer(record((10.0, False), (11.0, True)))


if __name__ == "__main__":
    unittest.main()
