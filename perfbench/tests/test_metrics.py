"""Benchmark-local tests of the metric layer.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import metrics  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def fixture(workload):
    """Raw record of a real traced run (perfbench/results/*.raw.json)."""
    with open(os.path.join(HERE, "fixtures", f"{workload}.raw.json")) as fh:
        return json.load(fh)


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        with self.assertRaises(metrics.TooFewSamples):
            metrics.percentile(list(range(99)), 0.9)
        self.assertEqual(metrics.percentile(list(range(100)), 0.9), 89)

    def test_median_is_not_refused(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 0.5), 2)

    def test_highest_tail_picks_the_highest_allowed_level(self):
        self.assertEqual(metrics.highest_tail(list(range(40)))[0], 0.75)
        self.assertEqual(metrics.highest_tail(list(range(200)))[0], 0.95)
        self.assertIsNone(metrics.highest_tail(list(range(20))))


class MetricNames(unittest.TestCase):
    def names(self, key):
        return [m["name"] for m in SPEC[key]]

    def test_names_are_well_formed_and_unique(self):
        for key in ("end_to_end", "per_layer"):
            names = self.names(key)
            metrics.check_names(names)
            self.assertEqual(len(names), len(set(names)), key)
        metrics.check_names([w["name"] for w in SPEC["workloads"]])
        self.assertIn("setup_s", self.names("end_to_end"))

    def test_printed_names_match_benchmark_json(self):
        for w in SPEC["workloads"]:
            raw = fixture(w["name"])
            e2e = metrics.end_to_end(raw)
            self.assertEqual(sorted(e2e), sorted(self.names("end_to_end")))
            self.assertTrue(all(v > 0 for v in e2e.values()), e2e)
            layers, missing = metrics.per_layer(raw, self.names("per_layer"))
            self.assertEqual(missing, [], w["name"])
            self.assertEqual(sorted(layers), sorted(self.names("per_layer")))
            metrics.check_names(list(e2e) + list(layers))

    def test_unknown_layer_metric_is_reported_missing(self):
        raw = fixture("olap_sf01")
        _, missing = metrics.per_layer(raw, ["exec.no_such_metric"])
        self.assertEqual(missing, ["exec.no_such_metric"])


if __name__ == "__main__":
    unittest.main()
