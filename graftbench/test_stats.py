"""Self-tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""

import json
import os
import unittest

import run
import stats


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)

    def test_needs_ten_samples_beyond(self):
        # p90 of 100 samples leaves exactly ten above it; of 99, nine
        self.assertEqual(stats.percentile(range(100), 90), 89)
        self.assertIsNone(stats.percentile(range(99), 90))
        # the median needs twenty samples
        self.assertEqual(stats.percentile(range(20), 50), 9)
        self.assertIsNone(stats.percentile(range(19), 50))
        self.assertIsNone(stats.percentile([], 50))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
        self.assertEqual(stats.percentile(xs, 50), stats.percentile(sorted(xs), 50))


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start_ms": start, "end_ms": end}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(1, 0, "bench.stmt", 0.0, 100.0),
                 span(2, 1, "sql.dml", 10.0, 40.0),
                 span(3, 1, "snapshot.manifest", 50.0, 60.0),
                 span(4, 2, "snapshot.commit", 20.0, 30.0)]
        self.assertEqual(stats.self_times(spans), {1: 60.0, 2: 20.0, 3: 10.0, 4: 10.0})

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, "bench.epoch", 0.0, 10.0),
                 span(2, 1, "a.x", 1.0, 6.0),
                 span(3, 1, "a.y", 4.0, 8.0),
                 span(4, 1, "a.z", 9.0, 12.0)]  # clipped to its parent
        self.assertEqual(stats.self_times(spans)[1], 10.0 - 7.0 - 1.0)

    def test_covered_union(self):
        self.assertEqual(stats.covered([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.covered([]), 0.0)

    def test_layer_of(self):
        self.assertEqual(stats.layer_of("snapshot.plan.point"), "snapshot")


class ResultLineTest(unittest.TestCase):
    def test_round_trip(self):
        metrics = {"calls_per_s": (1.2345678901234, "1/s"), "setup_s": (12.5, "s")}
        line = stats.result_line(True, 40, 0, metrics)
        obj = stats.parse_result(line)
        self.assertEqual(obj["attempted"], 40)
        self.assertEqual(obj["metrics"]["calls_per_s"],
                         {"value": 1.2345678901234, "unit": "1/s"})
        self.assertEqual(list(obj), ["correct", "attempted", "failed", "metrics"])

    def test_rejects_malformed(self):
        with self.assertRaises(ValueError):
            stats.parse_result('{"correct": true, "attempted": 0, "failed": 0, "metrics": {}}')
        with self.assertRaises(ValueError):
            stats.parse_result('{"correct": true, "attempted": 1, "failed": 0}')
        with self.assertRaises(ValueError):
            stats.result_line(True, 1, 0, {"x": (float("nan"), "ms")})

    def test_locale_independent(self):
        self.assertIn('"value": 1234.5', stats.result_line(True, 1, 0, {"x": (1234.5, "ms")}))


class BenchmarkFileTest(unittest.TestCase):
    """BENCHMARK.json, when present beside the benchmark, lists exactly
    the metrics run.py prints."""

    def setUp(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json")
        with open(path) as fh:
            self.bench = json.load(fh)

    def test_metric_names_and_units(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]], run.PER_LAYER)

    def test_workloads(self):
        self.assertEqual(tuple(w["name"] for w in self.bench["workloads"]), run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
