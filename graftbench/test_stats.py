"""Self-tests of the benchmark's own helpers, on synthetic inputs.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import json
import unittest
from pathlib import Path

import report
import stats

HERE = Path(__file__).resolve().parent


class TailRule(unittest.TestCase):
    def test_no_tail_below_the_median(self):
        self.assertIsNone(stats.tail([]))
        self.assertIsNone(stats.tail([float(x) for x in range(19)]))

    def test_twenty_samples_give_p50_with_ten_beyond(self):
        p, value, beyond = stats.tail([float(x) for x in range(20, 0, -1)])
        self.assertEqual(value, 10.0)
        self.assertEqual(beyond, 10)
        self.assertEqual(p, 50.0)

    def test_hundred_samples_give_p90(self):
        xs = [float(x) for x in range(100)]
        p, value, beyond = stats.tail(xs[::-1])
        self.assertEqual(p, 90.0)
        self.assertEqual(value, 89.0)
        self.assertEqual(sum(1 for x in xs if x > value), beyond)

    def test_percentile_is_the_highest_with_ten_beyond(self):
        for n in range(20, 60):
            xs = [float(x) for x in range(n)]
            p, value, _ = stats.tail(xs)
            # exactly ten samples lie above the value at the percentile's rank
            self.assertEqual(xs[-(10 + 1)], value)
            self.assertAlmostEqual(p / 100 * n, n - 10)


class Intervals(unittest.TestCase):
    def test_union_of_overlapping_nested_and_disjoint(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (6, 7), (20, 25)]), 20)

    def test_union_of_touching_and_empty(self):
        self.assertEqual(stats.union_length([(0, 5), (5, 10)]), 10)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(3, 3), (4, 2)]), 0)

    def test_driver_time_is_the_span_minus_the_union_of_its_jobs(self):
        jobs = [(10, 30), (20, 50), (90, 120), (-20, -5)]
        # jobs cover 10..50 and 90..100 inside the span 0..100
        self.assertEqual(stats.uncovered(0, 100, jobs), 50)
        self.assertEqual(stats.uncovered(0, 100, []), 100)
        self.assertEqual(stats.uncovered(0, 100, [(-1, 101)]), 0)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_the_covered_part_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0, "end": 100},
            {"id": 2, "parent": 1, "start": 10, "end": 20},
            {"id": 3, "parent": 1, "start": 15, "end": 40},
            {"id": 4, "parent": 3, "start": 20, "end": 30},
            {"id": 5, "parent": 0, "start": 200, "end": 210},
        ]
        self.assertEqual(stats.self_times(spans), {1: 70, 2: 10, 3: 15, 4: 10, 5: 10})


class MergeLayers(unittest.TestCase):
    """lake.merge.* of a streaming epoch: jobs are matched by micro-batch,
    and the driver time is addBatch minus the union of the batch's jobs."""

    def raw(self):
        batches = [{"batch": b, "rows": 10, "timestamp": "",
                    "durations": {"addBatch": 1000, "triggerExecution": 1200 + 3000 * (b == 1),
                                  "latestOffset": 5, "queryPlanning": 1, "walCommit": 2,
                                  "commitOffsets": 3}} for b in (0, 1, 2)]
        jobs = [{"ctx": 0, "id": 3 * b + k, "batch": b, "span": 1, "stages": [3 * b + k],
                 "start": 10_000 * b + s, "end": 10_000 * b + e, "ok": True}
                for b in (0, 1, 2) for k, (s, e) in enumerate([(0, 400), (300, 600), (800, 900)])]
        stages = [{"ctx": 0, "id": j["id"], "tasks": 2} for j in jobs]
        snapshots = [{"batch": b, "compacted": 64 * (b == 1), "deltas_max": b + 1,
                      "files_added": 64, "snapshot_bytes": 100} for b in (0, 1, 2)]
        traced = {"samples": {"epoch_s": [1.2, 4.2, 1.2]}, "values": {},
                  "layers": {"batches": batches, "snapshots": snapshots,
                             "ops.applied_ratio": 0.9, "ops.late_drops": 1,
                             "stream.source_rows_per_event": 2.0, "lake.write_amp": 3.0}}
        # the untraced phases before and after the traced one average to 1.0
        untraced = {"samples": {"epoch_s": [1.1, 1.1, 1.1]}, "values": {}, "layers": {}}
        untraced2 = {"samples": {"epoch_s": [0.9, 0.9, 0.9]}, "values": {}, "layers": {}}
        return {"workload": "cdc_stream", "unit_sample": "epoch_s",
                "phases": {"untraced": untraced, "traced": traced, "untraced2": untraced2},
                "spans": [{"id": 1, "parent": 0, "name": "stream.startWithMetrics",
                           "start": 0, "end": 1, "attrs": {}}],
                "jobs": jobs, "stages": stages}

    def test_cdc_merge_and_compaction_layers(self):
        out = report.per_layer(self.raw())
        self.assertEqual(out["lake.merge.job_wall_ms"], 700)
        self.assertEqual(out["lake.merge.driver_ms"], 300)
        self.assertEqual(out["lake.merge.spark_jobs"], 3)
        self.assertEqual(out["lake.merge.tasks"], 6)
        self.assertEqual(out["lake.compact.epochs"], 1)
        self.assertEqual(out["lake.compact.buckets_max"], 64)
        self.assertEqual(out["lake.compact.epoch_ms"], 4200)
        self.assertEqual(out["lake.deltas_per_bucket_max"], 3)
        self.assertAlmostEqual(out["trace.overhead_pct"], 20.0)


class BenchmarkFile(unittest.TestCase):
    def test_metrics_match_the_report(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, report.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, report.PER_LAYER)
        self.assertTrue({w["name"] for w in spec["workloads"]} <= set(report.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
