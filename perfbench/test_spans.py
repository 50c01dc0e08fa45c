"""Self-test of the event-log aggregation and the run's reductions.

    python3 perfbench/test_spans.py

Needs no Spark session: the event log is a few hand-written lines in
the schema Spark's event log uses.
"""

from __future__ import annotations

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import median_by_key  # noqa: E402
from spans import (  # noqa: E402
    PY_RETURNED_METRIC,
    PY_SENT_METRIC,
    PY_TIME_METRIC,
    Span,
    aggregate_event_log,
    span_totals,
)


def job_start(job: int, stages: list[int], group: str | None) -> str:
    props = {"spark.jobGroup.id": group} if group else {}
    return json.dumps(
        {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages, "Properties": props}
    )


def task_end(stage: int, ms: int, cpu_ns: int = 0, shuffle: int = 0, accs=()) -> str:
    return json.dumps(
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {
                "Launch Time": 1000,
                "Finish Time": 1000 + ms,
                "Accumulables": [{"Name": n, "Update": str(v)} for n, v in accs],
            },
            "Task Metrics": {
                "Executor CPU Time": cpu_ns,
                "Executor Run Time": ms,
                "JVM GC Time": 5,
                "Memory Bytes Spilled": 7,
                "Disk Bytes Spilled": 3,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Input Metrics": {"Bytes Read": 100},
            },
        }
    )


LOG = [
    job_start(0, [0, 1], "span-0"),
    task_end(0, 10, cpu_ns=2_000_000_000, shuffle=50),
    task_end(0, 30, shuffle=50, accs=[(PY_TIME_METRIC, 1500), (PY_SENT_METRIC, 400)]),
    task_end(1, 20, accs=[(PY_RETURNED_METRIC, 600)]),
    job_start(1, [2], "span-1"),
    task_end(2, 10),
    task_end(2, 10),
    task_end(2, 40),
    job_start(2, [3], None),
    task_end(3, 5),
    "",
]


class EventLogTest(unittest.TestCase):
    def test_groups(self):
        g = aggregate_event_log(LOG)
        self.assertEqual(set(g), {"span-0", "span-1", ""})
        a = g["span-0"]
        self.assertEqual(a.jobs, 1)
        self.assertAlmostEqual(a.cpu_s, 2.0)
        self.assertAlmostEqual(a.gc_s, 0.015)
        self.assertEqual(a.shuffle_write_bytes, 100)
        self.assertEqual(a.spill_bytes, 30)
        self.assertEqual(a.input_bytes, 300)
        self.assertAlmostEqual(a.python_run_s, 1.5)
        self.assertEqual(a.python_bytes, 1000)
        # stage 0 has tasks of 10 and 30 ms: max / median = 30 / 20
        self.assertAlmostEqual(a.task_skew, 1.5)
        # stage 2: 10, 10, 40 ms -> 40 / 10
        self.assertAlmostEqual(g["span-1"].task_skew, 4.0)
        self.assertEqual(g[""].jobs, 1)

    def test_span_rollup(self):
        spans = [
            Span("span-0", "pipeline", None, 0, 0.0, 2.0),
            Span("span-1", "cluster", "span-0", 0, 0.5, 1.0),
            Span("span-2", "empty", "span-0", 0, 1.0, 1.5),
        ]
        t = span_totals(spans, aggregate_event_log(LOG))
        self.assertEqual(t["span-0"].jobs, 2)
        self.assertEqual(t["span-0"].input_bytes, 600)
        self.assertEqual(t["span-1"].jobs, 1)
        self.assertEqual(t["span-2"].jobs, 0)
        self.assertAlmostEqual(t["span-0"].task_skew, 4.0)


class ReductionTest(unittest.TestCase):
    def test_median_by_key(self):
        rows = [("a", {"x": 1.0}), ("a", {"x": 3.0}), ("a", {"x": 100.0}), ("b", {"x": 4.0, "y": 1.0})]
        self.assertEqual(median_by_key(rows, "sum"), {"x": 7.0, "y": 1.0})
        self.assertEqual(median_by_key(rows, "mean"), {"x": 3.5, "y": 1.0})


if __name__ == "__main__":
    unittest.main()
