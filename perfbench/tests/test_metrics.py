"""Tests of the benchmark's own arithmetic and config checks.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond_the_tail(self):
        # p90 of 91 samples sits at index 81: 9 samples above it
        self.assertIsNone(metrics.tail_percentile(list(range(91)), 0.9))
        # p90 of 92 samples sits between indices 81 and 82: 10 samples above it
        self.assertIsNotNone(metrics.tail_percentile(list(range(92)), 0.9))

    def test_interpolates_between_order_statistics(self):
        vals = [float(i) for i in range(101)]
        self.assertAlmostEqual(metrics.tail_percentile(vals, 0.9), 90.0)
        self.assertAlmostEqual(metrics.tail_percentile(list(reversed(vals)), 0.5), 50.0)

    def test_empty(self):
        self.assertIsNone(metrics.tail_percentile([], 0.9))


def span(i, parent, name, start, end, query=""):
    return {"id": i, "parent": parent, "name": name, "query": query,
            "start_ms": start, "end_ms": end}


class SelfTimeTest(unittest.TestCase):
    def test_synthetic_tree(self):
        # query [0,100] > build [0,30] > job [5,25] > stage [10,20]
        #               > exec  [40,90] > jobs [45,60] and [55,70] (overlap)
        spans = [
            span(1, 0, "query", 0, 100),
            span(2, 1, "ops.build", 0, 30),
            span(3, 2, "job", 5, 25),
            span(4, 3, "stage", 10, 20),
            span(5, 1, "exec", 40, 90),
            span(6, 5, "job", 45, 60),
            span(7, 5, "job", 55, 70),
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 30 - 50)
        self.assertEqual(st[2], 30 - 20)
        self.assertEqual(st[3], 20 - 10)
        self.assertEqual(st[4], 10)
        self.assertEqual(st[5], 50 - 25)  # overlapping jobs cover [45,70] once
        self.assertEqual(st[6], 15)
        self.assertEqual(st[7], 15)
        # without overlap, a subtree's self times add up to its root's duration
        self.assertEqual(st[2] + st[3] + st[4], 30)

    def test_children_are_clipped_to_the_parent(self):
        # a listener-reported job may end a millisecond after its phase span
        spans = [span(1, 0, "exec", 10, 20), span(2, 1, "job", 5, 25)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 0)
        self.assertEqual(st[2], 20)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(metrics.self_times([span(1, 0, "plan", 2.5, 4.0)]), {1: 1.5})


class ConfigTest(unittest.TestCase):
    PINS = {"a": {"rows": 1, "hash": "x"}, "b": {"rows": 2, "hash": None}}

    def cfg(self, keys, sink="count", excluded=None):
        return {"excluded": excluded or {},
                "workloads": {"w": {"sink": sink, "keys": keys}}}

    def test_valid(self):
        metrics.validate_config(self.cfg(["a", "b"]), self.PINS)

    def test_unknown_key(self):
        with self.assertRaisesRegex(metrics.ConfigError, "unknown keys: zz"):
            metrics.validate_config(self.cfg(["a", "zz"]), self.PINS)

    def test_empty_workload(self):
        with self.assertRaisesRegex(metrics.ConfigError, "no keys"):
            metrics.validate_config(self.cfg([]), self.PINS)

    def test_duplicate_key(self):
        with self.assertRaisesRegex(metrics.ConfigError, "lists a twice"):
            metrics.validate_config(self.cfg(["a", "b", "a"]), self.PINS)

    def test_excluded_key(self):
        with self.assertRaisesRegex(metrics.ConfigError, "excluded keys: b"):
            metrics.validate_config(self.cfg(["a", "b"], excluded={"b": "why"}), self.PINS)

    def test_unknown_sink(self):
        with self.assertRaisesRegex(metrics.ConfigError, "sink"):
            metrics.validate_config(self.cfg(["a"], sink="csv"), self.PINS)

    def test_shipped_config_matches_benchmark_json(self):
        bench_dir = os.path.dirname(HERE)
        with open(os.path.join(bench_dir, "config.json")) as f:
            cfg = json.load(f)
        with open(os.path.join(bench_dir, "pins.json")) as f:
            metrics.validate_config(cfg, json.load(f))
        with open(os.path.join(os.path.dirname(bench_dir), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(cfg["workloads"]))
        with open(os.path.join(bench_dir, "LAYERS.json")) as f:
            layers = json.load(f)
        self.assertEqual(sorted(m["name"] for m in bench["per_layer"]),
                         sorted(k for k, v in layers.items() if "report_only" not in v))


def record():
    """A minimal harness record: one first pass, one warm-up pass, then two
    untraced and one traced steady pass of two keys."""
    def q(key, lat, ok=True):
        return {"key": key, "ok": ok, "rows": 5, "latency_s": lat, "build_s": lat / 4,
                "plan_s": lat / 4, "sink_s": lat / 2, "sweep_s": 0.1, "error": None}

    def p(i, kind, traced, lats):
        qs = [q("a", lats[0]), q("b", lats[1])]
        if kind == "warmup":
            qs[0]["live_heap_mb"], qs[1]["live_heap_mb"] = 120.0, 90.0
            qs[1]["ok"], qs[1]["error"] = False, "x"   # a fingerprint mismatch
        return {"index": i, "kind": kind, "traced": traced,
                "timed_s": sum(x["latency_s"] + 0.1 for x in qs), "codecache_mb": 50.0,
                "jvm": {"cpu_s": 4.0, "gc_s": 0.1, "jit_s": 1.0, "codegen_compiles": 3,
                        "codegen_compile_s": 0.2, "files_listed": 2}, "queries": qs}
    return {
        "setups": [{"setup_s": 3.0}, {"setup_s": 1.0}, {"setup_s": 2.0}],
        "passes": [p(0, "first", False, [4.0, 4.0]), p(1, "warmup", False, [3.0, 3.0]),
                   p(2, "steady", True, [2.0, 2.0]), p(3, "steady", False, [1.0, 3.0]),
                   p(4, "steady", False, [1.0, 3.0])],
        "host": {"other_cpu_share": 0.05},
        "counters": {"2:a": {"jobs.exec": 2, "task_cpu_ns": 4e9}}, "spans": [],
    }


class ReductionTest(unittest.TestCase):
    def test_end_to_end_uses_untraced_steady_passes(self):
        m = metrics.end_to_end(record())
        self.assertEqual(m["setup_s"], 2.0)
        self.assertAlmostEqual(m["first_pass_s"], 8.2)
        self.assertAlmostEqual(m["queries_per_s"], 4 / 8.4)
        self.assertEqual(m["latency_p50_s"], 2.0)   # median of per-key medians 1 and 3
        self.assertAlmostEqual(m["cpu_s_per_query"], 8.0 / 4)
        self.assertIsNone(m["latency_p90_s"])
        self.assertEqual(m["live_heap_mb"], 120.0)

    def test_outcome_counts_every_execution(self):
        attempted, failed, errors = metrics.outcome(record())
        self.assertEqual((attempted, failed), (10, 1))
        self.assertEqual(errors, ["b: x"])

    def test_per_layer_and_overhead(self):
        m = metrics.per_layer(record(), cores=4)
        self.assertEqual(m["exec.jobs"], 2)
        self.assertAlmostEqual(m["exec.core_util"], 4.0 / (4.2 * 4))
        self.assertAlmostEqual(m["trace.overhead"], 1 - (2 / 4.2) / (4 / 8.4))
        self.assertEqual(m["codegen.compiles"], 3)


if __name__ == "__main__":
    unittest.main()
