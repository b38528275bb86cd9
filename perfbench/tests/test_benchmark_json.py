"""BENCHMARK.json names exactly the metrics and workloads run.py reports."""
import json
import os
import sys
import unittest

BENCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, BENCH)
import run  # noqa: E402


class BenchmarkJsonTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def test_workloads(self):
        self.assertEqual(tuple(w["name"] for w in self.spec["workloads"]), run.WORKLOADS)

    def test_end_to_end_metrics_and_units(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["end_to_end"]],
                         list(run.END_TO_END))

    def test_per_layer_metrics_and_units(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]],
                         list(run.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
