"""Tests of the benchmark's reduction logic (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""

import json
import math
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import inputs  # noqa: E402
import run  # noqa: E402


class TailPercentileTest(unittest.TestCase):

    def test_p99_when_ten_samples_lie_beyond(self):
        xs = list(range(1, 1001))  # 1000 samples
        value, p, n = run.tail_percentile(xs)
        self.assertEqual((value, p, n), (990, 0.99, 1000))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_falls_back_to_highest_supported_percentile(self):
        xs = list(range(1, 301))  # p99 would leave only 3 samples beyond
        value, p, n = run.tail_percentile(xs)
        self.assertEqual(value, 290)
        self.assertAlmostEqual(p, 290 / 300)
        self.assertEqual(n, 300)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_just_below_a_thousand_samples_falls_back(self):
        xs = list(range(1, 1000))  # 999: rank 990 leaves 9 beyond
        value, p, n = run.tail_percentile(xs)
        self.assertEqual(value, 989)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertLess(p, 0.99)

    def test_unsorted_input_and_tiny_samples(self):
        self.assertEqual(run.tail_percentile([5, 1, 3] * 400)[0], 5)
        value, p, n = run.tail_percentile([4.0, 2.0])
        self.assertEqual((value, p, n), (4.0, 1.0, 2))
        self.assertTrue(math.isnan(run.tail_percentile([])[0]))


class SelfTimeTest(unittest.TestCase):

    @staticmethod
    def span(s, e):
        return {"start": s, "end": e}

    def test_no_children(self):
        self.assertEqual(run.self_time(self.span(0, 10), []), 10)

    def test_disjoint_children(self):
        kids = [self.span(1, 3), self.span(5, 8)]
        self.assertEqual(run.self_time(self.span(0, 10), kids), 5)

    def test_overlapping_children_count_once(self):
        kids = [self.span(1, 5), self.span(3, 7), self.span(6, 8)]
        self.assertEqual(run.self_time(self.span(0, 10), kids), 3)

    def test_children_clipped_to_the_span(self):
        kids = [self.span(-5, 2), self.span(9, 20), self.span(30, 40)]
        self.assertEqual(run.self_time(self.span(0, 10), kids), 7)

    def test_nested_children(self):
        kids = [self.span(2, 8), self.span(3, 4)]
        self.assertEqual(run.self_time(self.span(0, 10), kids), 4)


def synthetic_record():
    """A raw record shaped like perfbench.Main's, small enough to check by
    hand: two traced and two untraced executions of every op kind."""
    ops, spans, stages, queries, gets, cycles = [], [], [], [], [], []
    sid = 0
    for i, kind in enumerate(run.OPS + ("scan", "merge", "indexscan", "statsscan")):
        for traced in (False, True):
            for rep in range(2):
                op_id = f"{kind}#{i}{traced:d}{rep}"
                phase = "isolation" if kind not in run.OPS else "loop"
                ops.append({"kind": kind, "id": op_id, "phase": phase,
                            "traced": traced, "ok": True, "wall_s": 1.0 + rep})
                if traced:
                    sid += 2
                    spans.append({"id": sid, "name": kind, "start": 0.0,
                                  "end": 1000.0, "parent": 0, "op": op_id, "kind": "op"})
                    spans.append({"id": sid + 1, "name": "job-1", "start": 100.0,
                                  "end": 700.0, "parent": sid, "op": op_id, "kind": "job"})
                    stages.append({"op": op_id, "job": 1, "stage": 1, "tasks": 4,
                                   "task_s": 2.0, "cpu_s": 1.5, "gc_s": 0.1,
                                   "sched_delay_s": 0.05, "input_mb": 0.8,
                                   "shuffle_write_mb": 1.0,
                                   "shuffle_read_mb": 1.0, "spill_mb": 0.0})
                    queries.append({"op": op_id, "func": "collect", "analysis_ms": 1.0,
                                    "optimization_ms": 2.0, "planning_ms": 3.0,
                                    "plan_exchanges": 2, "plan_expands": 1})
    for traced in (False, True):
        cycles.append({"traced": traced, "wall_s": 2.0 if traced else 1.6})
        for k in range(20):
            gets.append({"phase": "loop", "traced": traced, "ok": True, "ms": 1.0 + k,
                         "present": k % 2 == 0, "sstables": 6, "bloom_miss": 5,
                         "index_miss": 0 if k % 2 == 0 else 1,
                         "found": 1 if k % 2 == 0 else 0, "events": 4 if k % 2 == 0 else 0})
    return {
        "ops": ops, "gets": gets, "cycles": cycles, "stages": stages,
        "queries": queries, "failures": [], "attempted": len(ops) + len(gets),
        "setup": {"setup_s": 12.5}, "compact_out_bytes": [600.0, 620.0],
        "compact_out_files": 2, "input": {"all_bytes": 1000}, "peak_rss_mb": 900.0,
        "iso": {"chunks": 100, "mb_in": 1.0, "mb_out": 2.0, "decompress_s": 0.5,
                "kernel_events": 1000, "kernel_s": 0.001, "index_entries": 50,
                "stats_files": 6},
    }, spans


class DeclaredMetricsTest(unittest.TestCase):

    def setUp(self):
        self.bench = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
        self.rec, self.spans = synthetic_record()

    def test_tables_match_benchmark_json(self):
        declared = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual(declared, run.END_TO_END)
        declared = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(declared, run.PER_LAYER)
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         list(run.WORKLOADS))

    def test_every_end_to_end_metric_is_printed(self):
        metrics, _ = run.end_to_end(self.rec)
        line, failures = run.result_line(self.rec, metrics, run.END_TO_END)
        self.assertEqual(failures, [])
        self.assertEqual(set(line["metrics"]), set(run.END_TO_END))
        self.assertEqual(line["metrics"]["compact_s"], {"value": 1.5, "unit": "s"})
        self.assertAlmostEqual(line["metrics"]["compact_space_ratio"]["value"], 0.61)
        self.assertEqual(line["metrics"]["ok_frac"]["value"], 1.0)

    def test_every_per_layer_metric_is_printed(self):
        metrics = run.per_layer(self.rec, self.spans,
                                {"steal_frac": 0.0, "psi_stall_frac": 0.1})
        self.assertEqual(set(metrics), set(run.PER_LAYER))
        line, failures = run.result_line(self.rec, metrics, run.PER_LAYER)
        self.assertEqual(failures, [])
        self.assertEqual(metrics["cfstats.driver_s"], 0.4)  # 1000 ms op, 600 ms job
        self.assertEqual(metrics["cfstats.jobs"], 1)
        self.assertEqual(metrics["cfstats.input_mb"], 0.8)
        self.assertAlmostEqual(metrics["trace.overhead_frac"], 0.25)

    def test_isolation_figures_are_per_pass(self):
        metrics = run.per_layer(self.rec, self.spans,
                                {"steal_frac": 0.0, "psi_stall_frac": 0.1})
        self.assertEqual(metrics["compressioninfo.chunks"], 100)
        self.assertEqual(metrics["compressioninfo.decompress_s"], 0.5)
        self.assertEqual(metrics["datadb.kernel.events"], 1000)
        self.assertAlmostEqual(metrics["datadb.kernel.ns_per_event"], 1000.0)
        # one kernel pass over the set against the op's summed task time
        self.assertAlmostEqual(metrics["cfstats.decode_frac"], 0.001 / 2.0)

    def test_a_failed_check_is_counted(self):
        self.rec["failures"] = ["purge.top10_sorted"]
        metrics, _ = run.end_to_end(self.rec)
        line, failures = run.result_line(self.rec, metrics, run.END_TO_END)
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)
        self.assertLess(metrics["ok_frac"], 1.0)

    def test_a_missing_metric_is_a_failure(self):
        line, failures = run.result_line(self.rec, {"setup_s": 1.0}, run.END_TO_END)
        self.assertFalse(line["correct"])
        self.assertIn("metric_missing.cfstats_s", failures)


class InputsTest(unittest.TestCase):

    def test_remap_is_a_bijection(self):
        for seed in (0, 1, 7, 12345):
            keys = inputs.key_space(20000)
            a, b = inputs.remap_params(seed, keys)
            mapped = {inputs.remap(k, a, b, keys) for k in range(keys)}
            self.assertEqual(mapped, set(range(keys)), seed)

    def test_seed_changes_keys_not_volume(self):
        t1, t2 = inputs.lineitem(1, 4000), inputs.lineitem(2, 4000)
        self.assertEqual(t1.num_rows, t2.num_rows)
        self.assertNotEqual(t1.column("l_orderkey").to_pylist(),
                            t2.column("l_orderkey").to_pylist())
        for c in ("l_partkey", "l_suppkey", "l_linenumber", "l_returnflag"):
            self.assertEqual(t1.column(c), t2.column(c))
        k1 = sorted(t1.column("l_orderkey").to_pylist())
        self.assertEqual(len(set(k1)), len(set(t2.column("l_orderkey").to_pylist())))
        self.assertEqual(inputs.lineitem(1, 4000), t1)

    def test_get_sequence_alternates_present_and_absent(self):
        existing = [0, 3, 8, 9]
        keys, present = inputs.get_sequence(5, existing, 100)
        for k, p in zip(keys, present):
            self.assertEqual(int(k) in existing, bool(p))
        self.assertEqual(int(present.sum()), 50)
        k2, _ = inputs.get_sequence(5, existing, 100)
        self.assertEqual(list(keys), list(k2))


if __name__ == "__main__":
    unittest.main()
