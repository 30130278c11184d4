"""Self-tests of the benchmark's metric computations.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


def op(i, name, start, end, ok=True, rnd=1):
    return {"id": i, "name": name, "start": start, "end": end, "ok": ok,
            "round": rnd}


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # 100 samples: p90 is the highest with 10 samples above it
        self.assertEqual(metrics.tail(list(range(1, 101))), (90, 90.0, 10))
        self.assertEqual(metrics.tail(list(range(1, 41))), (30, 75.0, 10))

    def test_percentile_follows_the_sample_count(self):
        v, pct, beyond = metrics.tail(list(range(1, 33)))   # 32 samples
        self.assertEqual((v, beyond), (22, 10))
        self.assertAlmostEqual(pct, 68.75)

    def test_eleven_samples_is_the_minimum(self):
        self.assertEqual(metrics.tail(list(range(11))), (0, 100.0 / 11, 10))

    def test_too_few_samples_reports_the_maximum(self):
        self.assertEqual(metrics.tail([5, 1, 3]), (5, 100.0, 0))
        self.assertEqual(metrics.tail(list(range(10))), (9, 100.0, 0))

    def test_unsorted_input(self):
        self.assertEqual(metrics.tail(list(range(200, 0, -1)))[:2], (190, 95.0))


class IntervalUnion(unittest.TestCase):
    def test_overlaps_and_gaps(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipped_to_operation(self):
        self.assertEqual(metrics.union_length([(-5, 5), (8, 30)], 0, 10), 7)

    def test_empty(self):
        self.assertEqual(metrics.union_length([]), 0)

    def test_dead_time_is_wall_minus_union(self):
        raw = {"ops": [op(0, "a", 0, 100, rnd=0), op(1, "a", 0, 100 * 10 ** 6)],
               "spans": [{"id": 0, "parent": -1, "op": 1, "name": "a",
                          "start": 0, "end": 100 * 10 ** 6}],
               "jobs": [{"op": 1, "span": 0, "stages": [7, 8]}],
               "stages": [
                   {"stage": 7, "submit_ms": 10, "complete_ms": 40, "tasks": 4,
                    "run_ms": 80, "cpu_ns": 0, "shuffle_read_bytes": 0,
                    "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_ms": 0},
                   {"stage": 8, "submit_ms": 30, "complete_ms": 60, "tasks": 4,
                    "run_ms": 40, "cpu_ns": 0, "shuffle_read_bytes": 0,
                    "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_ms": 0}],
               "counters": [], "cpus": 4,
               "jvm": {"gc_ms": 0, "heap_peak_mb": 0},
               "calibration": {"pre": {"calib_1t_ms": 1, "calib_nt_ms": 2},
                               "post": {"calib_1t_ms": 1, "calib_nt_ms": 2}}}
        m = metrics.per_layer(raw, 0.0, 0, 0, 0)
        self.assertAlmostEqual(m["exec.dead_ms"], 50.0)     # 100 - [10, 60)
        self.assertAlmostEqual(m["exec.slot_util"], 120 / (100 * 4))
        self.assertEqual(m["exec.stages"], 2)


class SpanSelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0, "end": 100},
            {"id": 1, "parent": 0, "start": 10, "end": 50},
            {"id": 2, "parent": 0, "start": 40, "end": 60},   # overlaps 1
            {"id": 3, "parent": 1, "start": 20, "end": 30},
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st, {0: 50, 1: 30, 2: 20, 3: 10})

    def test_child_outside_parent_is_clipped(self):
        spans = [{"id": 0, "parent": -1, "start": 0, "end": 10},
                 {"id": 1, "parent": 0, "start": 5, "end": 20}]
        self.assertEqual(metrics.self_times(spans)[0], 5)

    def test_self_times_sum_to_root_duration(self):
        spans = [{"id": 0, "parent": -1, "start": 0, "end": 90},
                 {"id": 1, "parent": 0, "start": 0, "end": 30},
                 {"id": 2, "parent": 0, "start": 30, "end": 90},
                 {"id": 3, "parent": 2, "start": 40, "end": 70}]
        self.assertEqual(sum(metrics.self_times(spans).values()), 90)


class FailureCounting(unittest.TestCase):
    ops = [op(0, "a", 0, 1), op(1, "b", 1, 2, ok=False), op(2, "a", 2, 3),
           op(3, "c", 3, 4)]

    def test_raised_operations(self):
        self.assertEqual(metrics.count_failures(self.ops), 1)

    def test_wrong_output_counts_every_attempt(self):
        self.assertEqual(metrics.count_failures(self.ops, ["a"]), 3)

    def test_failed_and_wrong_not_double_counted(self):
        self.assertEqual(metrics.count_failures(self.ops, ["b"]), 1)

    def test_single_wrong_results_add_up_to_attempts(self):
        self.assertEqual(metrics.count_failures(self.ops, [], 2), 3)
        self.assertEqual(metrics.count_failures(self.ops, ["a"], 5), 4)

    def test_fail_ratio_in_end_to_end(self):
        raw = {"ops": self.ops, "setup_s": [1.0, 2.0, 3.0],
               "jvm": {"vm_hwm_mb": 1.0}, "loop": {"rounds": 2}}
        e2e, info = metrics.end_to_end(raw, 1)
        self.assertEqual(e2e["op_fail_ratio"], 0.25)
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertEqual((info["cold_samples"], info["warm_samples"]), (3, 1))


if __name__ == "__main__":
    unittest.main()
