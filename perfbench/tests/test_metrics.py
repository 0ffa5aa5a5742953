"""Tests of the span arithmetic behind the per-layer metrics.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import metrics  # noqa: E402


def span(i, name, parent, start, end, **counts):
    return {"id": i, "name": name, "parent": parent, "run": "r",
            "start_us": start, "end_us": end, "counts": counts}


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        # month [0,100] holds extract [10,40] and dq [50,90];
        # extract holds probe [20,25]; dq holds overlapping probes
        # [60,70] and [65,80]
        spans = [span(1, "month", 0, 0, 100),
                 span(2, "extract", 1, 10, 40),
                 span(3, "probe", 2, 20, 25),
                 span(4, "dq", 1, 50, 90),
                 span(5, "probe", 4, 60, 70),
                 span(6, "probe", 4, 65, 80)]
        own = metrics.self_intervals(spans)
        length = {i: metrics.length(v) for i, v in own.items()}
        self.assertEqual(length, {1: 30, 2: 25, 3: 5, 4: 20, 5: 10, 6: 15})
        self.assertEqual(own[4], [[50, 60], [80, 90]])

    def test_layer_metrics(self):
        spans = [span(1, "month", 0, 0, 10_000_000),
                 span(2, "extract", 1, 1_000_000, 5_000_000),
                 span(3, "probe", 2, 4_000_000, 5_000_000),
                 span(4, "extract", 1, 6_000_000, 8_000_000, rows=3)]
        jobs = [{"id": 0, "span": 2, "start_ms": 1500, "end_ms": 2500},
                {"id": 1, "span": 2, "start_ms": 2000, "end_ms": 3000},
                {"id": 2, "span": 3, "start_ms": 4200, "end_ms": 4800},
                {"id": 3, "span": 4, "start_ms": 7000, "end_ms": 9000}]
        task = dict(stage=0, shuffle_write_bytes=5, spill_bytes=0,
                    records_written=10, bytes_written=100,
                    file_scan_rows=40, cache_scan_rows=0)
        tasks = [dict(task, span=2, dur_ms=100), dict(task, span=2, dur_ms=300),
                 dict(task, span=4, dur_ms=200), dict(task, span=3, dur_ms=999)]
        m = metrics.layer_metrics({"spans": spans, "jobs": jobs, "tasks": tasks})
        # extract self time: 3 s of span 2 (probe excluded) + 2 s of span 4
        self.assertAlmostEqual(m["extract.s"], 5.0)
        # span 2's jobs cover [1.5, 3.0] s; span 4's job covers [7, 8] of it
        self.assertAlmostEqual(m["extract.driver_s"], 1.5 + 1.0)
        self.assertEqual(m["extract.jobs"], 3)
        self.assertEqual(m["extract.tasks"], 3)
        self.assertEqual(m["extract.shuffle_write_bytes"], 15)
        self.assertAlmostEqual(m["extract.task_skew"], 300 / 200)
        self.assertEqual(m["extract.rows_read"], 120)
        self.assertEqual(m["extract.rows_written"], 30)
        self.assertAlmostEqual(m["extract.kept_ratio"], 0.25)
        self.assertAlmostEqual(m["trace.probe_s"], 1.0)
        self.assertEqual(m["dq.jobs"], 0)


if __name__ == "__main__":
    unittest.main()
