"""Tests of the benchmark's own arithmetic and of its input generator.

    python3 -m unittest discover -s benchmark -p 'test_*.py'

The generator tests build the harness (once) and run the JVM in
`--gen-only` mode.
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


class SpanTest(unittest.TestCase):
    def test_self_time_of_nested_spans(self):
        # [0, 10] with children [2, 5] and [6, 7]: self time 6; the first
        # child's own child [3, 4] leaves it 2
        path = metrics.blocking_path((1, 0, 10, "op"), [
            (2, 1, 2, 5, "sinks"), (4, 2, 3, 4, "spark"), (3, 1, 6, 7, "sources")])
        self.assertEqual(path, {"op": 6, "sinks": 2, "spark": 1, "sources": 1})

    def test_blocking_path_sums_to_the_op(self):
        root = (1, 0, 100, "op")
        spans = [
            (2, 1, 10, 60, "sinks"),
            ("job1", 2, 20, 40, "spark"),
            ("job2", 2, 30, 50, "spark"),   # overlaps job1: charged once
            (3, 1, 70, 90, "sources"),
            ("job3", 3, 85, 120, "spark"),  # runs past its span: clipped
        ]
        path = metrics.blocking_path(root, spans)
        self.assertEqual(sum(path.values()), 100)
        self.assertEqual(path, {"op": 30, "sinks": 20, "spark": 35, "sources": 15})
        # computed span by span, the self times agree layer by layer
        self.assertEqual(metrics.self_times(root, spans), path)
        self.assertEqual(metrics.blocking_gap(root, spans), 0.0)

    def test_gap_shows_a_call_that_overruns_its_parent(self):
        # the call [5, 12] outlives the op [0, 10]: the blocking path clips
        # it to 5 and leaves the op 5; span by span the op keeps 3 and the
        # call 7
        root, spans = (1, 0, 10, "op"), [(2, 1, 5, 12, "sinks")]
        self.assertEqual(metrics.self_times(root, spans), {"op": 3, "sinks": 7})
        self.assertAlmostEqual(metrics.blocking_gap(root, spans), 0.4)

    def test_gap_shows_overlapping_sibling_calls(self):
        root, spans = (1, 0, 10, "op"), [(2, 1, 1, 5, "sinks"), (3, 1, 4, 8, "sinks")]
        self.assertEqual(metrics.blocking_path(root, spans), {"op": 3, "sinks": 7})
        self.assertEqual(metrics.self_times(root, spans), {"op": 3, "sinks": 8})
        self.assertAlmostEqual(metrics.blocking_gap(root, spans), 0.1)

    def test_covered_merges_overlaps(self):
        self.assertEqual(metrics.covered([(5, 9), (0, 2), (1, 3), (8, 8), (6, 7)]), 7)


class AttributionTest(unittest.TestCase):
    def record(self):
        return {
            "workload": "etl_sync", "cores": 4, "epoch_ms0": 1000,
            "ops": [
                {"id": 1, "kind": "upsert", "pass": 1, "start_ns": 0, "end_ns": 2_000_000_000,
                 "ok": True, "error": ""},
                {"id": 5, "kind": "scan", "pass": 1, "start_ns": 2_000_000_000,
                 "end_ns": 3_000_000_000, "ok": True, "error": ""},
            ],
            "spans": [
                {"id": 2, "parent": 0, "op": 1, "layer": "op", "name": "upsert",
                 "start_ns": 0, "end_ns": 2_000_000_000},
                {"id": 3, "parent": 2, "op": 1, "layer": "sinks", "name": "SnapshotStore.upsert",
                 "start_ns": 100, "end_ns": 1_900_000_000},
                {"id": 6, "parent": 0, "op": 5, "layer": "op", "name": "scan",
                 "start_ns": 2_000_000_000, "end_ns": 3_000_000_000},
            ],
            "checks": [], "counters": {}, "op_counters": [],
            "engine": {
                "jobs": [
                    {"job": 0, "span": 3, "exec": 7, "start_ms": 1100, "end_ms": 1600},
                    {"job": 1, "span": 6, "exec": 8, "start_ms": 3100, "end_ms": 3500},
                    {"job": 2, "span": -1, "exec": -1, "start_ms": 5000, "end_ms": 5100},
                ],
                "stages": [
                    {"stage": 0, "attempt": 0, "span": 3, "exec": 7, "tasks": 4, "run_ms": 1600,
                     "gc_ms": 10, "dur_ms": 2000, "shuffle_write_bytes": 1 << 20,
                     "spill_bytes": 0, "accums": {"11": 3 << 20, "12": 250}},
                    {"stage": 1, "attempt": 0, "span": 6, "exec": 8, "tasks": 2, "run_ms": 100,
                     "gc_ms": 0, "dur_ms": 150, "shuffle_write_bytes": 0,
                     "spill_bytes": 0, "accums": {"13": 40}},
                ],
                "driver_accums": [{"exec": 8, "acc": 14, "value": 3},
                                  {"exec": 99, "acc": 14, "value": 50}],
                "metric_meta": {
                    "11": ["shuffle bytes written", "size", "Exchange"],
                    "12": ["task commit time", "timing", "WriteFiles"],
                    "13": ["scan time", "timing", "Scan parquet"],
                    "14": ["number of files read", "sum", "Scan parquet"],
                },
            },
        }

    def test_jobs_go_to_the_span_that_submitted_them(self):
        r = metrics.Run(self.record())
        self.assertEqual(r.job_span, {0: 3, 1: 6})
        self.assertEqual(r.op_kind(3), "upsert")

    def test_plan_metrics_are_converted_and_attributed(self):
        out = metrics.per_layer(self.record())
        self.assertAlmostEqual(out["plan.upsert.exchange_mb"][0], 3.0)
        self.assertAlmostEqual(out["plan.upsert.write_commit_s"][0], 0.25)
        self.assertAlmostEqual(out["plan.scan.scan_s"][0], 0.04)
        self.assertEqual(out["spark.upsert.jobs"][0], 1)
        self.assertEqual(out["spark.jobs"][0], 2)   # the unattributed job is not counted
        # run time 1.6 s over a 2 s op on 4 cores
        self.assertAlmostEqual(out["spark.upsert.cpu_util"][0], 0.2)
        self.assertAlmostEqual(out["spark.upsert.task_wait_s"][0], 0.4)
        # driver-side files-read update follows its execution's jobs
        self.assertEqual(metrics.Run(self.record()).plan_sum("number of files read",
                                                             lambda s: s == 6), 3)

    def test_blocking_gap_is_zero_for_nested_spans(self):
        out = metrics.per_layer(self.record())
        self.assertAlmostEqual(out["trace.blocking_gap"][0], 0.0)
        self.assertAlmostEqual(out["spark.self_s"][0], 0.9)


class UnitTest(unittest.TestCase):
    def test_conversions(self):
        self.assertAlmostEqual(metrics.convert(1500, "timing"), 1.5)
        self.assertAlmostEqual(metrics.convert(2_500_000_000, "nsTiming"), 2.5)
        self.assertAlmostEqual(metrics.convert(5 << 20, "size"), 5.0)
        self.assertEqual(metrics.convert(7, "sum"), 7)

    def test_batch_samples_sum_consecutive_ops(self):
        ops = [{"kind": k, "start_ns": 0, "end_ns": int(d * 1e9)} for k, d in
               [("bootstrap", 5), ("select", 1), ("upsert", 2), ("jdbc_write", 3), ("scan", 9),
                ("select", 1), ("upsert", 1), ("jdbc_write", 1)]]
        self.assertEqual(metrics.batch_samples({"ops": ops}, ["select", "upsert", "jdbc_write"]),
                         [6.0, 3.0])

    def test_curate_serve_probes_are_summed_per_pass(self):
        op = lambda kind, p, d: {"kind": kind, "pass": p, "start_ns": 0,
                                 "end_ns": int(d * 1e9), "ok": True}
        rec = {"workload": "curate_serve", "setup_s": [1.0], "peak_rss_kb": 1024,
               "counters": {"recall": 0.5},
               "ops": [op("curate", 1, 10), op("build", 1, 2), op("ingest", 1, 4),
                       op("probe", 1, 1), op("probe", 1, 5), op("probe", 1, 2)]}
        out = metrics.end_to_end(rec)
        self.assertAlmostEqual(out["scan_p50_s"][0], 8.0)   # every layout counts
        self.assertAlmostEqual(out["build_s"][0], 12.0)


class GeneratorTest(unittest.TestCase):
    def digest(self, workload, seed):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                              "--seed", str(seed), "--gen-only"],
                             check=True, capture_output=True, text=True).stdout
        return json.loads(out.strip().splitlines()[-1])["digest"]

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in ("etl_sync", "curate_serve"):
            with self.subTest(workload=w):
                a, b, c = self.digest(w, 11), self.digest(w, 11), self.digest(w, 12)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
