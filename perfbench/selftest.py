"""The benchmark's own tests; they need no Spark session.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import random
import sys
import tempfile
import unittest
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_tail_at_or_above_median_with_ten_beyond(self):
        rng = random.Random(7)
        for n in range(stats.MIN_SAMPLES, 400, 7):
            xs = [rng.lognormvariate(0, 1) for _ in range(n)]
            s = stats.summarize(xs)
            self.assertGreaterEqual(s["tail"], s["p50"])
            self.assertEqual(s["n"], n)
            # exactly TAIL_MIN_BEYOND samples rank above the tail value
            rank = sorted(xs).index(s["tail"]) + 1
            self.assertEqual(n - rank, stats.TAIL_MIN_BEYOND)
            self.assertAlmostEqual(s["tail_pct"], 100.0 * rank / n)

    def test_ties_keep_tail_at_or_above_median(self):
        xs = [1.0] * 15 + [2.0] * 15
        s = stats.summarize(xs)
        self.assertGreaterEqual(s["tail"], s["p50"])

    def test_small_sample_refused(self):
        with self.assertRaises(ValueError):
            stats.tail([1.0] * (stats.MIN_SAMPLES - 1))
        with self.assertRaises(ValueError):
            stats.median([])

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class Generators(unittest.TestCase):
    def test_corpus_is_seeded(self):
        a, b = gen.corpus(3, 300), gen.corpus(3, 300)
        self.assertEqual(a, b)
        self.assertNotEqual(a["text"], gen.corpus(4, 300)["text"])

    def test_corpus_shape(self):
        c = gen.corpus(5, 2000)
        self.assertEqual(c["doc_id"], list(range(2000)))
        self.assertEqual(c["n_chars"], [len(t) for t in c["text"]])
        # exact shares: 5% exact copies, 20% open with the one header
        self.assertEqual(len(c["text"]) - len(set(c["text"])), 100)
        prefixes = Counter(" ".join(t.split(" ")[:20]) for t in c["text"])
        self.assertEqual(max(prefixes.values()), 400)

    def test_keyed_rows_seeded_and_whole(self):
        rows = gen.keyed_rows(9, 500)
        self.assertEqual(rows, gen.keyed_rows(9, 500))
        self.assertEqual([r[0] for r in rows], list(range(500)))
        self.assertTrue(all(r[2] == int(r[2]) for r in rows))


class ChangeFeedReplay(unittest.TestCase):
    def test_net_changes_between_versions(self):
        from snapshot_dml import SnapshotDml

        wl = SnapshotDml(1, tempfile.gettempdir())
        a1, a2, a3 = ("a", 1.0, 1), ("a", 2.0, 1), ("a", 3.0, 1)
        b, c = ("b", 1.0, 1), ("c", 1.0, 1)
        wl.delta = {
            2: {1: (a1, a2), 5: (None, b)},
            3: {1: (a2, a3), 5: (b, None), 6: (c, None)},
            4: {7: (None, c)},
        }
        self.assertEqual(wl._expected_changes(1, 3), sorted([
            ("update_preimage", 1, *a1), ("update_postimage", 1, *a3), ("delete", 6, *c)]))
        self.assertEqual(wl._expected_changes(3, 4), [("insert", 7, *c)])


class EventLogFold(unittest.TestCase):
    def test_fold_attributes_by_job_group(self):
        events = [
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
             "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "p0.wc"}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
             "Task Info": {"Launch Time": 1000, "Finish Time": 1100, "Failed": False},
             "Task Metrics": {"Executor Run Time": 90, "Executor CPU Time": 80_000_000,
                              "JVM GC Time": 5, "Input Metrics": {"Bytes Read": 100},
                              "Shuffle Write Metrics": {"Shuffle Bytes Written": 40},
                              "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
             "Task Info": {"Launch Time": 1000, "Finish Time": 1400, "Failed": True},
             "Task Metrics": {"Executor Run Time": 300}},
            {"Event": "SparkListenerStageCompleted",
             "Stage Info": {"Stage ID": 0, "Completion Time": 1500}},
            {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600},
            {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
             "Stage IDs": [2], "Properties": {}},
            {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2100},
        ]
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "app-1")
            with open(path, "w") as f:
                f.write("\n".join(json.dumps(e) for e in events) + "\n")
            self.assertEqual(eventlog.event_log_file(d), path)
            groups = eventlog.fold(path)
        g = groups["p0.wc"]
        self.assertEqual((g.jobs, g.stages, g.tasks, g.failed_tasks), (1, 1, 2, 1))
        self.assertEqual(g.run_ms, 390)
        self.assertAlmostEqual(g.cpu_ms, 80.0)
        self.assertEqual((g.input_bytes, g.shuffle_write_bytes), (100, 40))
        self.assertEqual(g.job_spans, [(1.0, 1.6)])
        self.assertEqual(g.stage_task_ms, {0: [100, 400]})
        self.assertEqual(groups[""].jobs, 1)

    def test_union_length(self):
        spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.7)]
        self.assertAlmostEqual(eventlog.union_length(spans, 0.0, 10.0), 4.0)
        self.assertAlmostEqual(eventlog.union_length(spans, 2.5, 5.5), 1.0)


if __name__ == "__main__":
    unittest.main()
