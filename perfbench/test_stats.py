"""Tests of the benchmark's own arithmetic: python3 -m unittest discover -s perfbench"""

import statistics
import unittest

import run
import stats


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 90), 7)

    def test_p90_needs_ten_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(99, 90), 9)
        self.assertEqual(stats.tail_percentiles(list(range(99)), qs=(90,)), {})
        self.assertEqual(stats.tail_percentiles(list(range(1, 101)), qs=(90,)), {90: 90})

    def test_p99_needs_a_thousand(self):
        self.assertNotIn(99, stats.tail_percentiles(list(range(999))))
        self.assertIn(99, stats.tail_percentiles(list(range(1000))))

    def test_median_of_nothing(self):
        self.assertIsNone(stats.median([]))
        self.assertEqual(stats.tail_percentiles([]), {})


class IntervalUnion(unittest.TestCase):
    def test_overlap_counts_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15)]), 15)

    def test_disjoint_and_nested(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (20, 25)]), 15)

    def test_touching_and_unsorted(self):
        self.assertEqual(stats.union_length([(10, 20), (0, 10)]), 20)

    def test_empty_and_degenerate(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(5, 5), (7, 6)]), 0)

    def test_clip(self):
        self.assertEqual(stats.clip([(0, 10), (15, 30), (40, 50)], 5, 20), [(5, 10), (15, 20)])


class SelfTime(unittest.TestCase):
    def span(self, i, parent, t0, t1):
        return {"id": i, "parent": parent, "t0": t0, "t1": t1}

    def test_children_subtract_once(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 40), self.span(2, 0, 30, 60),
                 self.span(3, 1, 15, 20)]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 100 - 50)   # children cover 10..60
        self.assertEqual(st[1], 30 - 5)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 5)

    def test_child_outside_parent_is_clipped(self):
        st = stats.self_times([self.span(0, -1, 0, 10), self.span(1, 0, 5, 20)])
        self.assertEqual(st[0], 5)

    def test_self_times_sum_to_root(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 40), self.span(2, 1, 20, 30)]
        self.assertEqual(sum(stats.self_times(spans).values()), 100)


class Ratios(unittest.TestCase):
    def test_zero_base_is_none(self):
        self.assertIsNone(stats.ratio(5, 0))
        self.assertIsNone(stats.ratio(5, None))
        self.assertEqual(stats.ratio(3, 4), 0.75)

    def test_spread_matches_statistics_quantiles(self):
        xs = [10, 11, 12, 9, 10.5, 13, 8, 10, 11, 12]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q3 - q1) / q2)


def op(i, kind, group, timed, t0, t1):
    return {"id": i, "kind": kind, "group": group, "timed": timed, "t0": t0, "t1": t1,
            "ok": True, "fp": "1:0:0", "err": None}


def group(kind, idx, timed, t0, t1):
    return {"kind": kind, "idx": idx, "timed": timed, "t0": t0, "t1": t1}


class Metrics(unittest.TestCase):
    def test_untimed_warm_cycle_stays_out_of_end_to_end(self):
        raw = {"workload": "lake_write", "setup_s": [30.0], "window": [100000.0, 114000.0],
               "heap_retained_mb": 80.0, "table_bytes": "200", "plain_bytes": "100",
               "ops": [op(0, "read", 0, False, 0, 900), op(1, "read", 1, True, 100000, 100300)],
               "groups": [group("cycle", 0, False, 0, 20000), group("maintain", 0, False, 20000, 21000),
                          group("cycle", 1, True, 100000, 113000),
                          group("maintain", 1, True, 113000, 113500)]}
        e2e, detail = run.end_to_end(raw)
        self.assertEqual(e2e["round_p50_ms"][0], 13000)
        self.assertEqual(detail["maintain_s"][0], 0.5)
        self.assertEqual(detail["read_p50_ms"][0], 300)
        self.assertEqual(e2e["ops_per_s"][0], 1 / 14)

    def test_probe_events_are_not_the_ops(self):
        def job(op_id, probe, stages):
            return {"op": op_id, "probe": probe, "start": 10, "end": 20, "stages": stages, "tasks": 1,
                    "cpu_ns": 0, "gc_ms": 0, "input_bytes": 0, "shuffle_read_bytes": 0,
                    "shuffle_write_bytes": 0, "spill_bytes": 0}

        def plan(op_id, probe, ms):
            return {"op": op_id, "probe": probe, "analysis_ms": ms, "optimization_ms": 0,
                    "planning_ms": 0, "num_files": 0, "scan_rows": 0}
        raw = {"workload": "pipeline_batch", "setup_s": [1.0], "floor_ms": [20.0], "extras": [],
               "ops": [op(0, "g", 0, True, 0, 100)],
               "trace": {"jobs": [job(0, False, 2), job(0, True, 5)],
                         "plans": [plan(0, False, 3.0), plan(0, True, 7.0)],
                         "spans": [{"id": 0, "parent": -1, "op": 0, "probe": False, "name": "op.g",
                                    "t0": 0, "t1": 100},
                                   {"id": 1, "parent": -1, "op": 0, "probe": True, "name": "tables.meta",
                                    "t0": 100, "t1": 150}],
                         "fs": [{"op": 0, "read_ops": 0, "bytes_read": 9, "write_ops": 0, "bytes_written": 0}]}}
        m = run.per_layer(raw)
        self.assertEqual(m["spark.jobs"][0], 1)
        self.assertEqual(m["spark.stages"][0], 2)
        self.assertEqual(m["plans.analysis_ms"][0], 3.0)
        self.assertEqual(m["spark.driver_ms"][0], 90)
        self.assertEqual(m["tables.meta_ms"][0], 50)
        self.assertNotIn("self.tables_ms", m)


if __name__ == "__main__":
    unittest.main()
