"""Unit tests for perfbench's pure helpers.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402
import stats  # noqa: E402
import tickgen  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_median_needs_ten_samples_above_it(self):
        self.assertIsNone(stats.percentile(range(19), 0.5))
        self.assertEqual(stats.percentile(range(20), 0.5), 9)

    def test_p95_needs_two_hundred_samples(self):
        self.assertIsNone(stats.percentile(range(199), 0.95))
        self.assertEqual(stats.percentile(range(200), 0.95), 189)

    def test_nearest_rank_ignores_input_order(self):
        xs = list(range(100, 0, -1))
        self.assertEqual(stats.percentile(xs, 0.9), 90)

    def test_empty_sample_has_no_percentile(self):
        self.assertIsNone(stats.percentile([], 0.5))

    def test_small_sample_falls_back_to_the_maximum(self):
        self.assertEqual(stats.percentile_or_max([3, 1, 2], 0.95), 3)
        self.assertEqual(stats.percentile_or_max([], 0.95), 0)

    def test_spread_is_iqr_over_median(self):
        q1, q2, q3 = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertAlmostEqual(stats.spread(range(1, 11)), (q3 - q1) / q2)


class GapOutsideJobs(unittest.TestCase):
    def test_overlapping_and_nested_jobs_merge(self):
        self.assertEqual(stats.merge_intervals([(5, 8), (0, 3), (2, 4), (6, 7)]),
                         [(0, 4), (5, 8)])

    def test_touching_intervals_merge(self):
        self.assertEqual(stats.merge_intervals([(0, 2), (2, 5)]), [(0, 5)])

    def test_empty_intervals_are_dropped(self):
        self.assertEqual(stats.merge_intervals([(3, 3), (4, 2)]), [])

    def test_gap_is_wall_minus_job_covered_time(self):
        jobs = [(10, 20), (15, 30), (50, 60)]
        self.assertEqual(stats.driver_gap((0, 100), jobs), 100 - 20 - 10)

    def test_jobs_are_clipped_to_the_window(self):
        self.assertEqual(stats.driver_gap((15, 55), [(0, 20), (50, 90)]), 40 - 5 - 5)

    def test_no_jobs_means_all_gap(self):
        self.assertEqual(stats.driver_gap((0, 7), []), 7)


class SpanSelfTime(unittest.TestCase):
    def spans(self):
        return [
            {"id": 1, "parent": 0, "start_us": 0, "end_us": 100},
            {"id": 2, "parent": 1, "start_us": 10, "end_us": 40},
            {"id": 3, "parent": 1, "start_us": 30, "end_us": 60},
            {"id": 4, "parent": 2, "start_us": 15, "end_us": 20},
            {"id": 5, "parent": 1, "start_us": 90, "end_us": 120},
        ]

    def test_self_time_subtracts_the_union_of_children(self):
        st = stats.self_times(self.spans())
        self.assertEqual(st[1], 100 - 50 - 10)  # children cover 10-60 and 90-100
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)
        self.assertEqual(st[5], 30)

    def test_self_times_sum_to_root_duration_when_children_nest(self):
        spans = [{"id": 1, "parent": 0, "start_us": 0, "end_us": 50},
                 {"id": 2, "parent": 1, "start_us": 5, "end_us": 25},
                 {"id": 3, "parent": 2, "start_us": 10, "end_us": 12}]
        self.assertEqual(sum(stats.self_times(spans).values()), 50)


class TickToBatch(unittest.TestCase):
    def test_ticks_map_to_the_batch_whose_offsets_hold_them(self):
        batches = [(5, 9), (0, 5), (9, 12)]
        self.assertEqual(stats.map_ticks_to_batches(batches, [0, 4, 5, 8, 9, 11]),
                         [1, 1, 0, 0, 2, 2])

    def test_uncommitted_or_skipped_ticks_map_to_none(self):
        batches = [(0, 3), (5, 8)]
        self.assertEqual(stats.map_ticks_to_batches(batches, [3, 4, 8, 100]),
                         [None, None, None, None])

    def test_empty_batches_hold_nothing(self):
        self.assertEqual(stats.map_ticks_to_batches([(4, 4), (0, 4)], [3, 4]), [1, None])


class GeneratorLateness(unittest.TestCase):
    def test_lateness_is_sent_minus_due_in_ms(self):
        self.assertEqual(stats.lateness_ms([1_000, 2_000], [3_500, 2_000]), [2.5, 0.0])

    def test_early_sends_count_as_on_time(self):
        self.assertEqual(stats.lateness_ms([5_000], [4_000]), [0.0])

    def test_due_before_counts_ticks_due_by_a_time(self):
        self.assertEqual(stats.due_before([10, 20, 20, 30], 20), 3)
        self.assertEqual(stats.due_before([10, 20], 5), 0)


class Inputs(unittest.TestCase):
    def test_same_seed_gives_the_same_ticks(self):
        a, b = tickgen.Ticks(3, 100), tickgen.Ticks(3, 100)
        self.assertEqual([a.next(i) for i in range(50)], [b.next(i) for i in range(50)])

    def test_ticks_carry_sequential_ids_and_eight_decimals(self):
        t = tickgen.Ticks(1, 1000)
        tid, price, qty, _ = t.next(5)
        self.assertEqual(tid, 1005)
        self.assertEqual(len(price.split(".")[1]), 8)
        self.assertEqual(len(qty.split(".")[1]), 8)

    def test_websocket_frame_lengths(self):
        self.assertEqual(tickgen.frame("ab")[:2], bytes((0x81, 2)))
        long = tickgen.frame("x" * 300)
        self.assertEqual(long[:4], bytes((0x81, 126, 1, 44)))


class Layers(unittest.TestCase):
    def test_driver_gap_counts_only_timed_operations(self):
        res = {
            "passes": [{"pass": 1, "start_us": 0, "end_us": 1000, "heap_mb": 1.0}],
            "ops": [{"pass": 1, "name": "q1", "start_us": 0, "built_us": 100,
                     "end_us": 400, "task_ms": 1},
                    {"pass": 1, "name": "q2", "start_us": 600, "built_us": 650,
                     "end_us": 1000, "task_ms": 1}],
            "jobs": [{"job": 0, "start_us": 100, "group": 1, "batch": None, "stages": [0]},
                     {"job": 1, "start_us": 700, "group": 2, "batch": None, "stages": [1]}],
            "job_ends": [{"job": 0, "end_us": 300}, {"job": 1, "end_us": 900}],
            "stages": [{"stage": 0, "start_us": 100, "end_us": 300, "tasks": 2},
                       {"stage": 1, "start_us": 700, "end_us": 900, "tasks": 2}],
            "tasks": [{"stage": 0, "end_us": 290, "run_ms": 5, "cpu_ns": 1, "gc_ms": 0,
                       "in_bytes": 1048576, "in_rows": 10, "out_bytes": 0, "sw_bytes": 0,
                       "sr_bytes": 0, "fetch_ms": 0, "spill_bytes": 0}],
        }
        m = layers.layer_metrics(res, "batch")
        # ops cover 400 + 400 us, jobs 200 + 200 of it; 200-600 is not timed
        self.assertAlmostEqual(m["spark.driver_gap_s"][0], 400 / 1e6)
        self.assertEqual(m["spark.job_count"][0], 2)
        self.assertAlmostEqual(m["model.scan_mb"][0], 1.0)
        self.assertEqual(m["sources.rows_per_trigger"][0], 0)


if __name__ == "__main__":
    unittest.main()
