import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from graftbench import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 50), (50, 100, 50, True))
        self.assertEqual(stats.percentile(xs, 90), (90, 100, 10, True))
        self.assertEqual(stats.percentile(reversed(xs), 90)[0], 90)

    def test_small_sample_is_flagged(self):
        # 40 samples: p90 is the 36th, only 4 samples lie beyond it
        value, n, tail, reliable = stats.percentile(list(range(40)), 90)
        self.assertEqual((value, n, tail, reliable), (35, 40, 4, False))
        # exactly 10 beyond is the threshold
        self.assertTrue(stats.percentile(list(range(100)), 90)[3])
        self.assertFalse(stats.percentile(list(range(99)), 90)[3])

    def test_single_and_empty(self):
        self.assertEqual(stats.percentile([7.5], 90), (7.5, 1, 0, False))
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class SelfTimeTest(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(3, 3), (4, 2)]), 0)
        self.assertEqual(stats.union_length([]), 0)

    def test_span_tree(self):
        # pass 0..100 with ops a (10..40) and b (50..90); a has steps that
        # overlap each other and one that leaks past a's end; b has a
        # nested grandchild that must not count against b directly
        spans = {
            "pass": (None, 0, 100),
            "a": ("pass", 10, 40),
            "a.s1": ("a", 10, 25),
            "a.s2": ("a", 20, 30),
            "a.s3": ("a", 35, 60),
            "b": ("pass", 50, 90),
            "b.s1": ("b", 55, 85),
            "b.s1.job": ("b.s1", 60, 70),
        }
        own = stats.self_times(spans)
        self.assertEqual(own["pass"], 100 - 70)
        self.assertEqual(own["a"], 30 - (20 + 5))   # 10..30 and 35..40
        self.assertEqual(own["b"], 40 - 30)
        self.assertEqual(own["b.s1"], 30 - 10)
        self.assertEqual(own["b.s1.job"], 10)
        self.assertEqual(own["a.s3"], 25)

    def test_saturated(self):
        spans = [(0, 10), (5, 15), (12, 20), (30, 40)]
        self.assertEqual(stats.saturated(spans, 2), [(5, 10), (12, 15)])
        self.assertEqual(stats.saturated(spans, 1), [(0, 20), (30, 40)])
        # back-to-back serial tasks keep the single slot busy throughout
        self.assertEqual(stats.saturated([(0, 5), (5, 9)], 1), [(0, 9)])

    def test_accounting(self):
        # corpus pass 0..100 ns: ops 10..40 and 50..90
        ops = [{"t0_ns": 10, "t1_ns": 40}, {"t0_ns": 50, "t1_ns": 90}]
        m = {"corpus.build_ms": 30e-6, "corpus.exec_ms": 40e-6}
        ops_ms, gap_ms, head_ms = stats.accounting(ops, 0, 100, m)
        self.assertAlmostEqual(ops_ms, 70e-6)
        self.assertAlmostEqual(gap_ms, 30e-6)   # 0..10, 40..50, 90..100
        self.assertEqual(head_ms, 0.0)
        # overlapping operations are not netted off against the gaps
        ops[1]["t0_ns"] = 30
        m["corpus.exec_ms"] = 60e-6
        ops_ms, gap_ms, _ = stats.accounting(ops, 0, 100, m)
        self.assertAlmostEqual(ops_ms + gap_ms, 110e-6)  # 10 over the pass
        # ETL: load + configure before RunStarted, steps + task self time
        m = {"project.load_ms": 1.0, "app.configure_ms": 2.0, "step.compile.ms": 3.0,
             "step.merge_table.ms": 4.0, "task.other_ms": 5.0}
        task = [{"t0_ns": 4e6, "t1_ns": 16e6}]
        ops_ms, gap_ms, head_ms = stats.accounting(task, 0, 20e6, m, run_started_ns=3e6)
        self.assertEqual((ops_ms, head_ms), (12.0, 3.0))
        self.assertAlmostEqual(gap_ms, 5.0)     # 3..4 and 16..20 ms

    def test_critical_path(self):
        parents = {"c": ["a", "b"], "d": ["c"], "e": []}
        dur = {"a": 5, "b": 9, "c": 1, "d": 2, "e": 11}
        self.assertEqual(stats.critical_path(parents, dur), 12)


class BenchmarkJsonTest(unittest.TestCase):
    def test_benchmark_json_names_the_printed_metrics(self):
        root = os.path.dirname(os.path.dirname(HERE))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         stats.END_TO_END_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         stats.LAYER_UNITS)


if __name__ == "__main__":
    unittest.main()
