"""Tests of the benchmark's own arithmetic: python3 -m unittest discover perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
from benchlib import metrics  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        values = list(range(1, 101))  # 1..100
        self.assertEqual(metrics.percentile(values, 90), 90)
        self.assertEqual(metrics.percentile(values, 50), 50)
        self.assertEqual(metrics.percentile(values, 100), 100)

    def test_small_samples_round_up(self):
        # 38 samples: rank ceil(0.9 * 38) = 35, so 3 samples lie beyond p90
        values = [float(x) for x in range(38, 0, -1)]
        self.assertEqual(metrics.percentile(values, 90), 35.0)
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)
        self.assertEqual(metrics.percentile([3, 1, 2], 1), 1)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 90)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 5), (5, 10)]), 10)
        self.assertEqual(metrics.union_length([(2, 4), (0, 10)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_clip(self):
        self.assertEqual(metrics.clip([(0, 10), (12, 14), (-5, -1)], 5, 13), [(5, 10), (12, 13)])


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": 0, "parent": -1, "t0": 0, "t1": 100},
            {"id": 1, "parent": 0, "t0": 10, "t1": 40},
            {"id": 2, "parent": 0, "t0": 40, "t1": 90},
            {"id": 3, "parent": 2, "t0": 50, "t1": 60},
        ]
        s = metrics.self_times(spans)
        self.assertEqual(s, {0: 20, 1: 30, 2: 40, 3: 10})
        # the self times of one operation's spans add up to its wall time
        self.assertEqual(sum(s.values()), 100)

    def test_overlapping_children_count_their_union(self):
        spans = [
            {"id": 0, "parent": -1, "t0": 0, "t1": 100},
            {"id": 1, "parent": 0, "t0": 10, "t1": 50},
            {"id": 2, "parent": 0, "t0": 30, "t1": 70},
        ]
        self.assertEqual(metrics.self_times(spans)[0], 40)


class AttributionTest(unittest.TestCase):
    def test_job_goes_to_innermost_open_window(self):
        windows = [(0, 100), (10, 40), (40, 90), (200, 300)]
        jobs = [{"id": 1, "submitted": 20}, {"id": 2, "submitted": 95},
                {"id": 3, "submitted": 150}, {"id": 4, "submitted": 45}]
        self.assertEqual(metrics.attribute_jobs(windows, jobs), {1: 1, 2: 0, 3: None, 4: 2})

    def test_tasks_follow_their_stage_to_the_running_job(self):
        jobs = [{"id": 1, "submitted": 0, "completed": 10, "stages": [1, 2]},
                {"id": 2, "submitted": 20, "completed": 30, "stages": [2, 3]}]
        tasks = [{"stage": 1, "launch": 1}, {"stage": 2, "launch": 25},
                 {"stage": 3, "launch": 21}, {"stage": 9, "launch": 5}]
        by = metrics.tasks_by_job(jobs, tasks)
        self.assertEqual([t["stage"] for t in by[1]], [1])
        self.assertEqual([t["stage"] for t in by[2]], [2, 3])


class ExecutorIdleTest(unittest.TestCase):
    def test_idle_is_wall_minus_task_union(self):
        # span 0..100; tasks cover 10..30 and 20..50 (union 40) and 120..130 (outside)
        idle = metrics.executor_idle(0, 100, [(10, 30), (20, 50), (120, 130)])
        self.assertEqual(idle, 60)

    def test_no_tasks_means_all_idle(self):
        self.assertEqual(metrics.executor_idle(5, 25, []), 20)


def _raw(trace):
    ms = 1_000_000
    ops = [
        {"id": 0, "pass": 0, "kind": "read", "phase": "cold", "traced": False,
         "t0": 0, "t1": 500 * ms, "error": None},
        {"id": 1, "pass": 1, "kind": "read", "phase": "warm", "traced": False,
         "t0": 600 * ms, "t1": 700 * ms, "error": None},
        {"id": 2, "pass": 1, "kind": "write", "phase": "warm", "traced": False,
         "t0": 700 * ms, "t1": 1000 * ms, "error": "wrong"},
        {"id": 3, "pass": 2, "kind": "read", "phase": "warm", "traced": True,
         "t0": 1000 * ms, "t1": 1200 * ms, "error": None},
    ]
    spans = [
        {"id": 0, "parent": -1, "op": 3, "name": "op", "t0": 1000 * ms, "t1": 1200 * ms,
         "compiles": 5, "compile_ns": 0, "persisted": 1, "notes": {}},
        {"id": 1, "parent": 0, "op": 3, "name": "prepare", "t0": 1000 * ms, "t1": 1100 * ms,
         "compiles": 4, "compile_ns": 8 * ms, "persisted": 0, "notes": {}},
        {"id": 2, "parent": 0, "op": 3, "name": "run", "t0": 1100 * ms, "t1": 1200 * ms,
         "compiles": 1, "compile_ns": ms, "persisted": 0,
         "notes": {"rows_out": 10, "rows_read": 50}},
    ]
    return {
        "context": {"trace": trace},
        "clock": {"nano": 0, "epoch_ms": 0},
        "setup_s": [3.0, 1.0, 2.0], "load_ms": [9.0, 7.0],
        "ops": ops,
        "passes": [{"index": 0, "traced": False}, {"index": 1, "traced": False},
                   {"index": 2, "traced": True}],
        "footprint": {"disk_bytes": 300, "live_bytes": 100},
        "rss_peak_kb": 2048,
        "spans": spans,
        "jobs": [{"id": 7, "submitted": 1050, "completed": 1090, "stages": [1]},
                 {"id": 8, "submitted": 1150, "completed": 1190, "stages": [2]}],
        "tasks": [{"stage": 1, "launch": 1055, "finish": 1085, "run_ms": 30, "shuffle_write": 0,
                   "spill": 0, "peak_mem": 0, "records_read": 0},
                  {"stage": 2, "launch": 1160, "finish": 1180, "run_ms": 20, "shuffle_write": 64,
                   "spill": 0, "peak_mem": 128, "records_read": 0}],
    }


class SummaryTest(unittest.TestCase):
    def test_end_to_end(self):
        e2e, report = metrics.end_to_end(_raw(False))
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertEqual(e2e["cold_pass_s"], 0.5)
        self.assertEqual(report["latency_p90_ms"], 300.0)
        self.assertAlmostEqual(e2e["throughput_ops_s"], 2 / 0.4)
        self.assertEqual(e2e["space_amp"], 3.0)
        self.assertEqual(e2e["rss_peak_mb"], 2.0)
        self.assertEqual(report["ops_failed_frac"], 0.25)
        self.assertEqual(report["read_p50_ms"], 100.0)
        self.assertEqual(report["write_p50_ms"], 300.0)

    def test_per_layer(self):
        m = metrics.per_layer(_raw(True))
        self.assertEqual(m["prepare.ms"], 100.0)
        self.assertEqual(m["prepare.jobs"], 1)
        self.assertEqual(m["prepare.codegen_compiles"], 4)
        self.assertEqual(m["prepare.codegen_compile_ms"], 8.0)
        self.assertEqual(m["prepare.executor_idle_ms"], 70.0)
        self.assertEqual(m["run.codegen_compiles"], 1)
        self.assertEqual(m["run.codegen_compile_ms"], 1.0)
        self.assertEqual(m["run.tasks"], 1)
        self.assertEqual(m["run.executor_idle_ms"], 80.0)
        self.assertEqual(m["run.shuffle_write_bytes"], 64)
        self.assertEqual(m["run.rows_read_per_row_out"], 5.0)
        self.assertEqual(m["run.persisted_rdd_delta"], 1)
        self.assertEqual(m["io.load_ms"], 7.0)
        self.assertEqual(m["trace.self_time_gap_max"], 0.0)
        # traced 1 op / 0.2 s against untraced 2 ops / 0.4 s
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.0)

    def test_self_time_gap_is_the_time_no_layer_span_covers(self):
        # the layer spans cover 0..60 ms and 90..130 ms of a 200 ms operation,
        # leaving 100 ms to the root span alone
        raw = _raw(True)
        raw["spans"][1].update(t1=1060 * 1_000_000)
        raw["spans"][2].update(t0=1090 * 1_000_000, t1=1130 * 1_000_000)
        self.assertAlmostEqual(metrics.per_layer(raw)["trace.self_time_gap_max"], 0.5)
        # 30% uncovered, and a nested span covers part of its parent
        raw["spans"][1].update(t1=1080 * 1_000_000)
        raw["spans"][2].update(t0=1080 * 1_000_000, t1=1140 * 1_000_000)
        raw["spans"].append({"id": 3, "parent": 2, "op": 3, "name": "prepare",
                             "t0": 1100 * 1_000_000, "t1": 1120 * 1_000_000, "compiles": 0,
                             "compile_ns": 0, "persisted": 0, "notes": {}})
        self.assertAlmostEqual(metrics.per_layer(raw)["trace.self_time_gap_max"], 0.3)

    def test_summarize_picks_the_metric_set(self):
        m, _ = metrics.summarize(_raw(False))
        self.assertEqual(set(m), {k for k, _ in metrics.END_TO_END})
        m, _ = metrics.summarize(_raw(True))
        self.assertEqual(set(m), {k for k, _ in metrics.PER_LAYER})


if __name__ == "__main__":
    unittest.main()
