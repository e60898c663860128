"""Tests of the benchmark's own code: statistics, the interval union behind
driver_s, the per-layer aggregation, and result parsing.

    python3 -m unittest discover -s cdcbench -p 'test_*.py'
"""

import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(metrics.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(metrics.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.median([])


class TailTest(unittest.TestCase):
    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(metrics.tail([1.0] * 19))

    def test_twenty_samples_give_the_median(self):
        xs = [float(i) for i in range(1, 21)]
        self.assertEqual(metrics.tail(xs), (50.0, 10.0, 20))

    def test_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(1, 111)]
        # p95 has rank 105 (5 beyond), p90 has rank 99 (11 beyond)
        self.assertEqual(metrics.tail(xs), (90.0, 99.0, 110))

    def test_at_least_ten_beyond(self):
        xs = [float(i) for i in range(1, 101)]
        # p90 has rank 90, exactly 10 samples beyond it
        self.assertEqual(metrics.tail(xs)[0], 90.0)

    def test_nearest_rank(self):
        self.assertEqual(metrics.percentile([5.0, 1.0, 3.0], 50), 3.0)
        self.assertEqual(metrics.percentile([5.0, 1.0, 3.0], 100), 5.0)


class UnionTest(unittest.TestCase):
    def test_disjoint_overlapping_and_nested(self):
        self.assertAlmostEqual(
            metrics.union_length([(0, 1), (2, 4), (3, 5), (3.5, 3.6)]), 4.0)

    def test_touching_intervals_merge(self):
        self.assertAlmostEqual(metrics.union_length([(0, 1), (1, 2)]), 2.0)

    def test_clipping(self):
        self.assertAlmostEqual(
            metrics.union_length([(0, 10), (12, 20)], lo=5, hi=15), 8.0)
        self.assertEqual(metrics.union_length([(0, 1)], lo=2, hi=3), 0.0)

    def test_empty(self):
        self.assertEqual(metrics.union_length([]), 0.0)


def span(i, layer, name, start, end, parent=-1, attrs=None):
    return {"id": i, "parent": parent, "layer": layer, "name": name,
            "start": start, "end": end, "attrs": attrs or {}}


def stage(span_id, start, end, is_map, run_s=1.0):
    return {"span": span_id, "start": start, "end": end, "map": is_map,
            "tasks": 2, "cpu_s": run_s / 2, "run_s": run_s, "gc_s": 0.0,
            "shuffle_bytes": 10, "spill_bytes": 0}


class LayerTest(unittest.TestCase):
    def test_self_time_excludes_children(self):
        spans = [span(0, "streaming.feed", "drain", 0.0, 10.0),
                 span(1, "streaming.feed", "mirrorInto", 2.0, 5.0, parent=0),
                 span(2, "streaming.feed", "mirrorInto", 4.0, 7.0, parent=0)]
        self.assertAlmostEqual(metrics.span_self_times(spans)[0], 5.0)

    def test_merge_split_adds_up_to_wall(self):
        spans = [span(0, "lake.merge", "mergeEpoch", 0.0, 4.0,
                      attrs={"events": 100, "keys": 80,
                             "bytes_written": 1000, "buckets_touched": 4})]
        stages = [stage(0, 0.5, 1.5, True), stage(0, 1.5, 3.0, False),
                  stage(0, 2.0, 2.5, False)]
        jobs = [{"job": 1, "span": 0}, {"job": 2, "span": 0}]
        m = metrics.layer_metrics(spans, jobs, stages, cores=4)
        self.assertAlmostEqual(m["lake.merge.map_stage_s"], 1.0)
        self.assertAlmostEqual(m["lake.merge.write_stage_s"], 1.5)
        self.assertAlmostEqual(m["lake.merge.driver_s"], 1.5)
        self.assertAlmostEqual(
            m["lake.merge.map_stage_s"] + m["lake.merge.write_stage_s"]
            + m["lake.merge.driver_s"], m["lake.merge.wall_s"])
        self.assertEqual(m["lake.merge.jobs"], 2)
        self.assertAlmostEqual(m["lake.merge.keys_per_event"], 0.8)
        self.assertAlmostEqual(m["lake.merge.core_util"], 3.0 / 16.0)

    def test_every_per_layer_metric_is_produced(self):
        m = metrics.layer_metrics([], [], [], cores=4)
        produced = set(m) | {"trace.events_per_s", "trace.epoch_s_p50",
                             "trace.overhead_frac",
                             "trace.overhead_baseline_runs"}
        self.assertEqual(produced,
                         {n for n, _, _ in metrics.per_layer_names()})


class ResultTest(unittest.TestCase):
    GOOD = {"correct": True, "attempted": 3, "failed": 0,
            "metrics": {"setup_s": {"value": 1.5, "unit": "s"}}}

    def test_last_line_is_parsed(self):
        text = '{"report": {}}\n' + json.dumps(self.GOOD) + "\n"
        self.assertEqual(metrics.parse_result(text, ["setup_s"]), self.GOOD)

    def test_result_line_round_trip(self):
        line = json.dumps(metrics.result_line(True, 3, 0,
                                              {"setup_s": (1.5, "s")}))
        self.assertEqual(metrics.parse_result(line), self.GOOD)

    def test_rejects_bad_results(self):
        bad = [dict(self.GOOD, extra=1),
               dict(self.GOOD, attempted=0),
               dict(self.GOOD, attempted=1.5),
               dict(self.GOOD, correct="yes"),
               dict(self.GOOD, metrics={"x": {"value": "1", "unit": "s"}}),
               dict(self.GOOD, metrics={"x": {"value": 1}})]
        for obj in bad:
            with self.assertRaises(ValueError):
                metrics.parse_result(json.dumps(obj))
        with self.assertRaises(ValueError):
            metrics.parse_result("")
        with self.assertRaises(ValueError):
            metrics.parse_result('{"correct": true, "attempted": 1, '
                                 '"failed": 0, "metrics": '
                                 '{"x": {"value": NaN, "unit": "s"}}}')
        with self.assertRaises(ValueError):
            metrics.parse_result(json.dumps(self.GOOD), ["epoch_s_p50"])


class BenchmarkFileTest(unittest.TestCase):
    """BENCHMARK.json names exactly what the launcher prints."""

    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_metric_lists_match(self):
        self.assertEqual(
            [(m["name"], m["unit"], m["better"])
             for m in self.spec["end_to_end"]],
            list(metrics.END_TO_END))
        self.assertEqual(
            [(m["name"], m["unit"], m["better"])
             for m in self.spec["per_layer"]],
            metrics.per_layer_names())
        self.assertEqual([w["name"] for w in self.spec["workloads"]],
                         list(run.WORKLOADS))

    def test_limits(self):
        names = [m["name"] for m in self.spec["end_to_end"]
                 + self.spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(self.spec["per_layer"]), 128)
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        for m in self.spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertTrue(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}",
                                         m["unit"]), m["unit"])


if __name__ == "__main__":
    unittest.main()
