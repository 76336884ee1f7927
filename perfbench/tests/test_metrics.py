"""Benchmark arithmetic: span self times, the tail-percentile rule, the
throughput denominator and the comparison verdict.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402
import metrics  # noqa: E402


def span(i, name, a, b, op=0):
    return {"id": i, "parent": 1, "op": op, "name": name, "start_ns": a, "end_ns": b}


class SelfTimeTest(unittest.TestCase):
    # operation [0, 100): layer A [10, 40) holding jobs [15, 25) and [20, 30);
    # layer B [50, 90) holding job [60, 95) that runs past the layer's end;
    # a job [92, 98) outside every layer.
    op = {"id": 0, "span": 1, "start_ns": 0, "end_ns": 100}
    layers = [span(2, "llm.a", 10, 40), span(3, "pipeline.b", 50, 90)]
    jobs = [(15, 25), (20, 30), (60, 95), (92, 98)]

    def test_parts(self):
        parts = metrics.self_times(self.op, self.layers, self.jobs)
        # A: 30 ns, jobs cover [15, 30) = 15 -> self 15
        self.assertEqual(parts["llm.a"], 15)
        # B: 40 ns, jobs cover [60, 90) = 30 -> self 10
        self.assertEqual(parts["pipeline.b"], 10)
        self.assertEqual(parts["spark.job"], 45)
        # operation minus its layer spans: 100 - 70
        self.assertEqual(parts["unattributed"], 30)

    def test_parts_add_up_to_wall(self):
        parts = metrics.self_times(self.op, self.layers, self.jobs)
        self.assertEqual(sum(parts.values()), self.op["end_ns"] - self.op["start_ns"])

    def test_repeated_layer_name_sums(self):
        layers = [span(2, "llm.a", 0, 10), span(3, "llm.a", 20, 30)]
        parts = metrics.self_times(self.op, layers, [])
        self.assertEqual(parts["llm.a"], 20)
        self.assertEqual(parts["unattributed"], 80)

    def test_span_tree_levels(self):
        result = {"clock_base": [0, 0], "spans": self.layers,
                  "ops": [dict(self.op, kind="search", name="s0",
                               jobs=[{"id": 7, "submit_ms": 0, "end_ms": 0}])]}
        spans, report = metrics.span_tree(result)
        self.assertEqual([s["level"] for s in spans], ["operation", "layer", "layer", "job"])
        self.assertEqual(report[0]["wall_ms"], 100 / 1e6)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 5), (3, 8), (10, 12)], 0, 100), 10)
        self.assertEqual(metrics.union_length([(0, 5), (3, 8)], 4, 6), 2)
        self.assertEqual(metrics.union_length([], 0, 10), 0)


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # 20 samples: p50 leaves exactly 10 above its rank, p75 only 5
        self.assertEqual(metrics.tail(range(1, 21)), (50.0, 10))
        # 100 samples: p90 leaves 10 above, p95 only 5
        self.assertEqual(metrics.tail(range(1, 101)), (90.0, 90))
        # 1000 samples: p99 leaves 10 above, p99.9 only 1
        self.assertEqual(metrics.tail(range(1, 1001)), (99.0, 990))

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail(range(19)))

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail(list(range(100, 0, -1))), (90.0, 90))


class ThroughputTest(unittest.TestCase):
    def test_time_between_operations_is_not_counted(self):
        # two 1 s operations with a 3 s gap (isolation, checks) between them
        ops = [{"ok": True, "start_ns": 0, "end_ns": 10**9},
               {"ok": True, "start_ns": 4 * 10**9, "end_ns": 5 * 10**9}]
        result = {"ops": ops, "boot_s": 1.0, "generate_reps_s": [0.1, 0.3, 0.2], "warm_s": 2.0}
        e2e = metrics.end_to_end(result)
        self.assertEqual(e2e["requests_per_s"][0], 1.0)
        self.assertAlmostEqual(e2e["setup_s"][0], 3.2)


class VerdictTest(unittest.TestCase):
    par = [10.0] * 10

    def test_better_over_all_pairs(self):
        self.assertEqual(compare.verdict(self.par, [12.0] * 10, True, 0.1), ("better", 1.0))

    def test_errored_pairs_are_lost(self):
        # the change errored in 2 of 10 pairs: 8/10 won, not better
        chg = [12.0] * 8 + [None, None]
        v, share = compare.verdict(self.par, chg, True, 0.1)
        self.assertEqual(share, 0.8)
        self.assertNotEqual(v, "better")
        # the parent errored: the change wins those pairs
        par = [None] + [10.0] * 9
        self.assertEqual(compare.verdict(par, [12.0] * 10, True, 0.1), ("better", 1.0))

    def test_more_failures_is_not_better(self):
        v, _ = compare.verdict(self.par, [12.0] * 10, True, 0.1, fails_more=True)
        self.assertNotEqual(v, "better")

    def test_worse(self):
        self.assertEqual(compare.verdict(self.par, [8.0] * 10, True, 0.1)[0], "worse")


if __name__ == "__main__":
    unittest.main()
