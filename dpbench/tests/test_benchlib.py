"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s dpbench/tests
"""
import json
import math
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import benchlib  # noqa: E402


def span(i, name, start, end, parent=-1, release=""):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent,
            "release": release}


class TailPercentileTest(unittest.TestCase):
    def test_p90_when_ten_samples_lie_beyond(self):
        xs = list(range(1, 101))                    # 100 samples
        value, level, beyond = benchlib.tail_percentile(xs)
        self.assertEqual((value, level, beyond), (90, 0.9, 10))

    def test_lower_percentile_keeps_ten_beyond(self):
        xs = list(range(1, 41))                     # 40 samples: p90 has only 4 beyond
        value, level, beyond = benchlib.tail_percentile(xs)
        self.assertEqual(beyond, 10)
        self.assertEqual(value, 30)
        self.assertAlmostEqual(level, 0.75)

    def test_few_samples_fall_back_to_the_median(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0, 6.0]
        value, level, beyond = benchlib.tail_percentile(xs)
        self.assertEqual(value, 4.0)                # upper median, never below p50
        self.assertGreaterEqual(value, benchlib.median(xs))
        self.assertEqual(beyond, 2)

    def test_order_does_not_matter(self):
        xs = [float(i % 17) for i in range(200)]
        self.assertEqual(benchlib.tail_percentile(xs), benchlib.tail_percentile(sorted(xs)))

    def test_empty(self):
        value, _, beyond = benchlib.tail_percentile([])
        self.assertTrue(math.isnan(value))
        self.assertEqual(beyond, 0)


class SelfTimeTest(unittest.TestCase):
    def test_union_length_merges_overlaps(self):
        self.assertAlmostEqual(benchlib.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertAlmostEqual(benchlib.union_length([(0, 1), (1, 2)]), 2.0)
        self.assertEqual(benchlib.union_length([]), 0.0)
        self.assertEqual(benchlib.union_length([(3, 3)]), 0.0)

    def test_self_time_subtracts_children_once(self):
        spans = [span(0, "release", 0.0, 10.0),
                 span(1, "entry.construct", 0.0, 2.0, 0),
                 span(2, "core.budgets", 2.0, 3.0, 0),
                 span(3, "exec", 4.0, 9.0, 0),
                 span(4, "exec.job", 4.5, 6.0, 3),
                 span(5, "exec.job", 5.5, 8.0, 3),     # overlaps the first job
                 span(6, "exec.stage", 4.5, 5.0, 4)]
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 2.0 - 1.0 - 5.0)  # unattributed remainder
        self.assertAlmostEqual(st[3], 5.0 - 3.5)               # jobs cover [4.5, 8]
        self.assertAlmostEqual(st[4], 1.5 - 0.5)
        self.assertAlmostEqual(st[6], 0.5)
        # sequential phases plus the release's own remainder make up its wall
        phases = [s for s in spans if s["parent"] == 0]
        total = sum(s["end"] - s["start"] for s in phases) + st[0]
        self.assertAlmostEqual(total, 10.0)

    def test_children_outside_the_parent_are_clipped(self):
        spans = [span(0, "exec", 1.0, 2.0), span(1, "exec.job", 0.5, 1.5, 0)]
        self.assertAlmostEqual(benchlib.self_times(spans)[0], 0.5)

    def test_layer_report(self):
        spans = [span(0, "release", 0.0, 4.0), span(1, "plan.optimize", 0.0, 1.0, 0),
                 span(2, "plan.physical", 1.0, 1.5, 0), span(3, "exec", 1.5, 4.0, 0)]
        rep = benchlib.layer_report(spans)
        self.assertEqual(rep["plan"], {"self_s": 1.5, "count": 2})
        self.assertAlmostEqual(rep["unattributed"]["self_s"], 0.0)
        self.assertEqual(rep["exec"]["count"], 1)


class FailureCountingTest(unittest.TestCase):
    def test_failed_and_wrong_releases_count(self):
        releases = [{"ok": True}, {"ok": False}, {"ok": True}]
        checks = [{"ok": True}, {"ok": False}]
        self.assertEqual(benchlib.count_failures(releases, checks), (5, 2))

    def test_a_failed_release_is_never_timed(self):
        recs = records(durations=[1.0, 1.0, 1.0], failed_duration=0.001)
        m = benchlib.end_to_end(recs)
        self.assertEqual(m["release_p50_s"], 1.0)     # the fast failure is not a sample
        self.assertEqual(m["rows_per_s"], 100.0)


def records(durations, failed_duration=None):
    recs = [{"type": "session", "s": 2.0, "cores": 4},
            {"type": "setup", "gen_s": [1.0, 3.0, 2.0], "warm_s": 4.0},
            {"type": "rss", "peak_mb": 1000.0},
            {"type": "utility", "count_rel_error_p50": 0.1},
            {"type": "control", "s": [0.1, 0.2, 0.3]}]
    t = 0.0
    for i, d in enumerate(durations):
        recs.append({"type": "release", "id": f"0:r{i}", "pass": 0, "name": f"r{i}",
                     "family": "ops", "start": t, "end": t + d, "ok": True,
                     "input_rows": 100 * d, "traced": False})
        t += d
    if failed_duration is not None:
        recs.append({"type": "release", "id": "0:bad", "pass": 0, "name": "bad",
                     "family": "ops", "start": t, "end": t + failed_duration, "ok": False,
                     "input_rows": 100, "traced": False})
    recs.append({"type": "pass", "pass": 0, "traced": False, "wall_s": t})
    return recs


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        self.spec = benchlib.load_spec()

    def test_end_to_end_names_equal_benchmark_json(self):
        printed = set(benchlib.end_to_end(records([1.0, 2.0])))
        self.assertEqual(printed, {m["name"] for m in self.spec["end_to_end"]})

    def test_per_layer_names_equal_benchmark_json(self):
        printed = set(benchlib.per_layer(records([1.0, 2.0]), cores=4))
        self.assertEqual(printed, {m["name"] for m in self.spec["per_layer"]})

    def test_setup_is_session_plus_median_generation_plus_warm(self):
        self.assertEqual(benchlib.end_to_end(records([1.0]))["setup_s"], 2.0 + 2.0 + 4.0)

    def test_result_line_shape(self):
        values = benchlib.end_to_end(records([1.0, 2.0]))
        line = json.loads(benchlib.result_line(True, 3, 0, values, self.spec["end_to_end"]))
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        for m in self.spec["end_to_end"]:
            self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
            self.assertIsInstance(line["metrics"][m["name"]]["value"], float)

    def test_workloads_match_the_runner(self):
        sys.path.insert(0, os.path.dirname(HERE))
        import run
        self.assertEqual(set(run.WORKLOADS), {w["name"] for w in self.spec["workloads"]})


if __name__ == "__main__":
    unittest.main()
