"""Self-test of tools/ab_pairs.py's summary arithmetic.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""

import json
import unittest

import ab_pairs


class AbPairs(unittest.TestCase):
    def test_seeds(self):
        self.assertEqual(ab_pairs.parse_seeds("501-505"), [501, 502, 503, 504, 505])
        self.assertEqual(ab_pairs.parse_seeds("1,4, 9"), [1, 4, 9])
        self.assertEqual(ab_pairs.parse_seeds("3,7-8"), [3, 7, 8])
        with self.assertRaises(ValueError):
            ab_pairs.parse_seeds("9-3")
        with self.assertRaises(ValueError):
            ab_pairs.parse_seeds(" , ")

    def test_side_order_alternates(self):
        self.assertEqual([ab_pairs.order(i)[0] for i in range(4)],
                         ["base", "change", "base", "change"])
        self.assertEqual(ab_pairs.order(1), ("change", "base"))

    def test_directions_from_benchmark(self):
        bench = {"end_to_end": [{"name": "calls_per_s", "better": "higher"},
                                {"name": "call_p50_ms", "better": "lower"}],
                 "per_layer": [{"name": "sql.merge_ms", "better": "lower"},
                               {"name": "odd", "better": "sideways"}]}
        self.assertEqual(ab_pairs.directions(bench),
                         {"calls_per_s": "higher", "call_p50_ms": "lower",
                          "sql.merge_ms": "lower"})

    def test_result_line_is_the_last_json_metrics_line(self):
        first = {"correct": True, "attempted": 3, "failed": 0,
                 "metrics": {"calls_per_s": {"value": 1.0, "unit": "1/s"}}}
        last = dict(first, metrics={"calls_per_s": {"value": 2.5, "unit": "1/s"}})
        out = "building\n%s\n{not json\n%s\n[info] done\n" % (json.dumps(first), json.dumps(last))
        self.assertEqual(ab_pairs.values(ab_pairs.result_line(out)), {"calls_per_s": 2.5})
        self.assertIsNone(ab_pairs.result_line("no result\n{\"x\": 1}\n"))
        self.assertEqual(ab_pairs.values(None), {})

    def test_quartiles(self):
        self.assertEqual(ab_pairs.quartiles([5.0]), (5.0, 5.0, 5.0))
        self.assertEqual(ab_pairs.quartiles([4, 1, 3, 2, 5]), (2.0, 3.0, 4.0))
        q1, q2, q3 = ab_pairs.quartiles([1, 2, 3, 4])
        self.assertEqual((q1, q2, q3), (1.75, 2.5, 3.25))

    def test_summary_of_a_clear_gain(self):
        pairs = [(6.5, 9.0), (6.7, 9.2), (6.9, 9.4), (7.0, 8.8), (6.6, 9.1)]
        s = ab_pairs.summarize(pairs, "higher")
        self.assertEqual((s["wins"], s["losses"], s["ties"], s["n"]), (5, 0, 0, 5))
        self.assertTrue(s["clears"])
        self.assertAlmostEqual(s["ratio"], 9.1 / 6.7)
        line = ab_pairs.summary_line("calls_per_s", s)
        self.assertIn("higher better in 5/5 pairs (0 ties)", line)
        self.assertIn("median better by 2.4, base IQR 0.3 (cleared)", line)

    def test_summary_of_noise_and_ties(self):
        # lower is better: the change wins two, loses one, ties one, and its
        # median moves less than the base's own spread
        pairs = [(100.0, 98.0), (90.0, 95.0), (110.0, 100.0), (105.0, 105.0)]
        s = ab_pairs.summarize(pairs, "lower")
        self.assertEqual((s["wins"], s["losses"], s["ties"]), (2, 1, 1))
        self.assertFalse(s["clears"])
        self.assertIn("median better by 3.5, base IQR 8.75",
                      ab_pairs.summary_line("call_p50_ms", s))
        worse = ab_pairs.summarize([(77.0, 85.0), (75.0, 80.0), (79.0, 98.0)], "lower")
        self.assertEqual((worse["wins"], worse["losses"]), (0, 3))
        self.assertTrue(worse["gap"] < 0 and not worse["clears"])
        self.assertIn("median worse by 8", ab_pairs.summary_line("call_p50_ms", worse))

    def test_summary_without_direction_or_pairs(self):
        s = ab_pairs.summarize([(1.0, 2.0)])
        self.assertNotIn("wins", s)
        self.assertNotIn("pairs", ab_pairs.summary_line("x", s))
        self.assertIsNone(ab_pairs.summarize([], "lower"))
        self.assertEqual(ab_pairs.summary_line("x", None), "x: no pair with both sides")

    def test_pair_line(self):
        self.assertEqual(
            ab_pairs.pair_line(7, "change", {"a": 1.0}, {"a": 2.0, "b": 3.0}, ["a", "b"]),
            "seed 7 (change first): a 1 -> 2; b - -> 3")


if __name__ == "__main__":
    unittest.main()
