"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from bench import metrics as m  # noqa: E402
from bench import report  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(m.tail_percentile(0))
        self.assertIsNone(m.tail_percentile(39))
        self.assertEqual(m.tail_percentile(40), 75.0)
        self.assertEqual(m.tail_percentile(99), 75.0)
        self.assertEqual(m.tail_percentile(100), 90.0)
        self.assertEqual(m.tail_percentile(199), 90.0)
        self.assertEqual(m.tail_percentile(200), 95.0)
        self.assertEqual(m.tail_percentile(1000), 99.0)
        self.assertEqual(m.tail_percentile(10000), 99.9)

    def test_every_reported_tail_has_ten_beyond(self):
        for n in range(1, 2000):
            p = m.tail_percentile(n)
            if p is not None:
                self.assertGreaterEqual(n * (1 - p / 100.0) + 1e-9, 10)

    def test_percentile_interpolates(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0]
        self.assertEqual(m.percentile(xs, 50), 3.0)
        self.assertEqual(m.percentile(xs, 0), 1.0)
        self.assertEqual(m.percentile(xs, 100), 5.0)
        self.assertAlmostEqual(m.percentile(xs, 75), 4.0)
        self.assertAlmostEqual(m.percentile([1.0, 2.0], 25), 1.25)
        self.assertRaises(ValueError, m.percentile, [], 50)

    def test_quartile_spread_matches_statistics(self):
        xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 10.3]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(m.quartile_spread(xs), (q3 - q1) / q2)
        self.assertEqual(m.quartile_spread([2.0, 2.0, 2.0, 2.0]), 0.0)


class SelfTime(unittest.TestCase):
    def span(self, t0, t1):
        return {"t0": t0, "t1": t1}

    def test_no_children(self):
        self.assertEqual(m.self_time(self.span(0, 10), []), 10)

    def test_overlapping_children_count_once(self):
        kids = [self.span(1, 4), self.span(3, 6), self.span(8, 9)]
        self.assertEqual(m.self_time(self.span(0, 10), kids), 10 - 5 - 1)

    def test_children_clipped_to_parent(self):
        kids = [self.span(-5, 2), self.span(9, 20)]
        self.assertEqual(m.self_time(self.span(0, 10), kids), 10 - 2 - 1)

    def test_union_length(self):
        self.assertEqual(m.union_length([]), 0)
        self.assertEqual(m.union_length([(0, 1), (1, 2), (5, 7)]), 4)
        self.assertEqual(m.union_length([(0, 10), (2, 3)], 1, 5), 4)


class Attribution(unittest.TestCase):
    SPANS = [
        {"id": 1, "op": 1, "t0": 100.0, "t1": 200.0},   # op 1
        {"id": 2, "op": 1, "t0": 120.0, "t1": 150.0},   # call inside op 1
        {"id": 3, "op": 3, "t0": 200.5, "t1": 300.0},   # op 3, right after op 1
    ]

    def test_innermost_containing_span(self):
        jobs = [{"id": 10, "t0": 110.0}, {"id": 11, "t0": 130.0},
                {"id": 12, "t0": 160.0}, {"id": 13, "t0": 250.0}]
        got = m.attribute(jobs, self.SPANS)
        self.assertEqual(got, {10: 1, 11: 2, 12: 1, 13: 3})

    def test_whole_millisecond_event_times(self):
        # a job submitted 0.4 ms after op 3 started carries time 200.0
        got = m.attribute([{"id": 20, "t0": 200.0}], self.SPANS)
        self.assertEqual(got[20], 3)
        # a job starting just before op 1's start, within the slack
        self.assertEqual(m.attribute([{"id": 21, "t0": 99.5}], self.SPANS)[21], 1)

    def test_outside_every_span(self):
        got = m.attribute([{"id": 30, "t0": 50.0}, {"id": 31, "t0": 400.0}], self.SPANS)
        self.assertEqual(got, {30: None, 31: None})

    def test_op_stats_sum_attributed_stages(self):
        doc = {
            "ops": [{"id": 1, "kind": "query", "cls": "topk", "t0": 100.0, "t1": 200.0,
                     "traced": True, "ok": True, "info": {}}],
            "spans": [{"id": 1, "op": 1, "level": "op", "name": "query.topk",
                       "t0": 100.0, "t1": 200.0}],
            "jobs": [{"id": 7, "t0": 110.0, "t1": 150.0}, {"id": 8, "t0": 500.0, "t1": 510.0}],
            "stages": [
                {"id": 1, "attempt": 0, "job": 7, "t0": 110.0, "t1": 130.0, "tasks": 4,
                 "failed_tasks": 0, "retried_tasks": 0, "run_ms": 30, "gc_ms": 1,
                 "spill_bytes": 0, "shuffle_write_bytes": 5, "shuffle_read_bytes": 0,
                 "input_bytes": 100, "task_ms": [5, 6, 7, 8]},
                {"id": 2, "attempt": 0, "job": 7, "t0": 125.0, "t1": 150.0, "tasks": 2,
                 "failed_tasks": 1, "retried_tasks": 1, "run_ms": 20, "gc_ms": 2,
                 "spill_bytes": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 5,
                 "input_bytes": 0, "task_ms": [9, 10]},
                {"id": 3, "attempt": 0, "job": 8, "t0": 500.0, "t1": 510.0, "tasks": 1,
                 "failed_tasks": 0, "retried_tasks": 0, "run_ms": 9, "gc_ms": 0,
                 "spill_bytes": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                 "input_bytes": 0, "task_ms": [9]},
            ],
            "counters": {}, "setups": [],
        }
        run = m.Run(doc)
        st = run.op_stats(doc["ops"][0])
        self.assertEqual(st["jobs"], 1)
        self.assertEqual(st["tasks"], 6)
        self.assertEqual(st["task_busy_ms"], 50)
        self.assertEqual(st["failed_tasks"], 2)
        # stages cover 110..150 of the 100 ms op
        self.assertAlmostEqual(st["driver_ms"], 60.0)


class SpanFile(unittest.TestCase):
    def test_self_ms_subtracts_children(self):
        spans = [{"id": 1, "parent": 0, "t0": 0.0, "t1": 10.0},
                 {"id": 2, "parent": 1, "t0": 2.0, "t1": 5.0},
                 {"id": "job-1", "parent": 2, "t0": 3.0, "t1": 4.0}]
        got = {s["id"]: s["self_ms"] for s in report.with_self_times(spans)}
        self.assertEqual(got, {1: 7.0, 2: 2.0, "job-1": 1.0})


class Merge(unittest.TestCase):
    def test_ids_stay_unique_and_rss_peaks(self):
        def doc(peak):
            return {"ops": [{"id": 2}], "jobs": [{"id": 0}], "setups": [{"s": 1.0}],
                    "stages": [{"id": 0, "job": 0}], "check_failures": [],
                    "spans": [{"id": 1, "op": 0, "parent": 0}, {"id": 2, "op": 2, "parent": 1}],
                    "counters": {"peak_rss_bytes": peak, "rss_samples": 3}}
        got = report.merge([doc(5), doc(7)])
        self.assertEqual([o["id"] for o in got["ops"]], [2, 10 ** 6 + 2])
        self.assertEqual([j["id"] for j in got["jobs"]], [0, 10 ** 6])
        self.assertEqual(got["stages"][1]["job"], 10 ** 6)
        self.assertEqual(got["spans"][3]["parent"], 10 ** 6 + 1)
        self.assertEqual(got["spans"][2]["parent"], 0)
        self.assertEqual(got["counters"]["peak_rss_bytes"], 7)
        self.assertEqual(got["counters"]["rss_samples"], 6)
        self.assertEqual(len(got["setups"]), 2)


class TracingOverhead(unittest.TestCase):
    def test_compares_run_medians(self):
        self.assertAlmostEqual(m.overhead([110.0, 130.0, 120.0], [100.0, 90.0, 100.0, 200.0]),
                               0.2)
        with self.assertRaises(ValueError):
            m.overhead([], [100.0])


class FailureAccounting(unittest.TestCase):
    def test_failed_frac(self):
        self.assertEqual(m.failed_frac(10, 0), 0.0)
        self.assertEqual(m.failed_frac(8, 2), 0.25)
        self.assertRaises(ValueError, m.failed_frac, 0, 0)
        self.assertRaises(ValueError, m.failed_frac, 3, 4)

    def test_headline_counts_every_failed_op(self):
        ops = [{"id": i, "kind": "query", "cls": "topk", "t0": 0.0, "t1": 1.0,
                "traced": False, "ok": i % 4 != 0, "info": {}} for i in range(8)]
        doc = {"ops": ops, "spans": [], "jobs": [], "stages": [], "setups": [],
               "counters": {"peak_rss_bytes": 2 ** 30, "rss_samples": 5}}
        value, unit, n = report.headline(m.Run(doc), "search", 4)["ops_failed_frac"]
        self.assertEqual((value, unit, n), (0.25, "ratio", 8))


if __name__ == "__main__":
    unittest.main()
