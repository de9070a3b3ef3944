"""Tests of the benchmark's metric arithmetic.

    python3 -m pytest perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_chosen_percentile_leaves_ten_samples_beyond(self):
        for n in range(20, 1200, 97):
            p = stats.tail_percentile(n)
            xs = list(range(n))
            cut = stats.percentile(xs, p)
            beyond = sum(1 for x in xs if x > cut)
            self.assertGreaterEqual(beyond, 9, (n, p))

    def test_percentile_is_a_weighted_mean_of_order_statistics(self):
        self.assertAlmostEqual(stats.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertAlmostEqual(stats.percentile([1, 2, 3, 4, 5], 50), 3.0)
        self.assertEqual(stats.percentile([5], 90), 5)
        self.assertAlmostEqual(stats.percentile([7, 7, 7], 90), 7)
        xs = [2, 97, 111, 140, 146, 166, 176, 189, 395, 501, 543, 1060]
        qs = [stats.percentile(xs, p) for p in (10, 50, 90)]
        self.assertTrue(min(xs) < qs[0] < qs[1] < qs[2] < max(xs), qs)

    def test_percentile_moves_smoothly_across_a_gap(self):
        # one cheap call turning slow moves the plain median from 180 to
        # 395 (+119%); the weighted estimate moves far less
        fast = [100, 110, 120, 130, 140, 150, 170, 180, 395, 400, 410, 420]
        slow = fast[:7] + [395] + fast[8:]
        slow[0] = 390
        moved = stats.percentile(slow, 50) / stats.percentile(fast, 50) - 1
        self.assertLess(moved, 0.6)


class Intervals(unittest.TestCase):
    def test_union_of_overlapping(self):
        self.assertEqual(stats.union([(0, 5), (3, 8), (10, 12)]),
                         [(0, 8), (10, 12)])
        self.assertEqual(stats.length([(0, 5), (3, 8), (10, 12)]), 10)

    def test_union_of_nested_and_touching(self):
        self.assertEqual(stats.union([(0, 10), (2, 3), (4, 9), (10, 11)]),
                         [(0, 11)])
        self.assertEqual(stats.length([(2, 3), (0, 10), (2, 3)]), 10)

    def test_empty_intervals_drop(self):
        self.assertEqual(stats.union([(4, 4), (5, 3)]), [])

    def test_driver_gap_is_span_minus_job_union(self):
        span = [(0, 100)]
        jobs = [(10, 30), (20, 40), (25, 35), (60, 70), (95, 120)]
        # covered: 10..40, 60..70, 95..100 → 45; gap 55
        self.assertEqual(stats.length(stats.subtract(span, jobs)), 55)
        self.assertEqual(stats.subtract([(0, 10)], [(0, 10)]), [])
        self.assertEqual(stats.subtract([(0, 10)], []), [(0, 10)])


def span(i, parent, op, name, t0, t1):
    return {"id": i, "parent": parent, "op": op, "name": name, "t0": t0,
            "eager": t0, "t1": t1}


class Attribution(unittest.TestCase):
    def setUp(self):
        self.trace = {
            "spans": [span(0, -1, 1, "etl.ingest", 0, 100),
                      span(1, 0, 1, "Ingest.incrementalAppend", 10, 60),
                      span(2, 1, 1, "Warehouse.append", 20, 40),
                      span(3, 0, 1, "Warehouse.overwrite", 70, 90),
                      span(4, -1, 2, "etl.vacuum", 100, 130)],
            "jobs": [{"id": 1, "op": 1, "t0": 5, "t1": 8, "stages": [1]},
                     {"id": 2, "op": 1, "t0": 15, "t1": 25, "stages": [2]},
                     {"id": 3, "op": 1, "t0": 30, "t1": 45, "stages": [3]},
                     {"id": 4, "op": 1, "t0": 75, "t1": 80, "stages": [4]},
                     {"id": 5, "op": 2, "t0": 100, "t1": 110, "stages": []},
                     {"id": 6, "op": -1, "t0": 30, "t1": 31, "stages": []}],
            "stages": [{"id": k, "tasks": 1, "task_ms": 1000 * k,
                        "shuffle_bytes": 0, "spill_bytes": 0}
                       for k in range(1, 5)],
            "executions": [{"id": 1, "t0": 28, "t1": 35, "plan_ms": 4.0,
                            "scan_rows": 10},
                           {"id": 2, "t0": 12, "t1": 55, "plan_ms": 6.0,
                            "scan_rows": 0},
                           {"id": 3, "t0": 95, "t1": 100, "plan_ms": 1.0,
                            "scan_rows": 0}],
        }

    def test_jobs_go_to_innermost_span_of_their_op(self):
        att = stats.attribute(self.trace)
        got = {sid: [j["id"] for j in v["jobs"]] for sid, v in att.items()}
        self.assertEqual(got, {0: [1], 1: [2], 2: [3], 3: [4], 4: [5]})

    def test_plan_time_goes_to_innermost_span_at_execution_end(self):
        att = stats.attribute(self.trace)
        plans = {sid: sum(x["plan_ms"] for x in v["execs"])
                 for sid, v in att.items()}
        # t1=35 lies in span 2 (20..40); t1=55 in span 1; t1=100 is the
        # shared boundary of spans 0 and 4, and the later-starting span 4
        # is innermost
        self.assertEqual(plans, {0: 0, 1: 6.0, 2: 4.0, 3: 0, 4: 1.0})

    def test_span_table_self_time_and_gap(self):
        rows = {r["span"]["id"]: r for r in stats.span_table(self.trace)}
        # span 1 (10..60) minus child 20..40 → 30 ms of self time
        self.assertAlmostEqual(rows[1]["self_s"], 0.030)
        # its self region 10..20 ∪ 40..60; op-1 jobs cover 15..25, 30..45
        # → uncovered 10..15 and 45..60 = 20 ms
        self.assertAlmostEqual(rows[1]["driver_gap_s"], 0.020)
        self.assertEqual(rows[2]["jobs"], 1)
        self.assertAlmostEqual(rows[2]["task_s"], 3.0)
        layers = stats.layer_rows(stats.span_table(self.trace))
        self.assertEqual(layers["engine.Warehouse"]["calls"], 2)
        self.assertEqual(layers["engine.Warehouse"]["jobs"], 2)
        self.assertAlmostEqual(layers["engine.Warehouse"]["plan_s"], 0.004)


if __name__ == "__main__":
    unittest.main()
