import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402


class BenchmarkJsonTest(unittest.TestCase):
    """run.py prints exactly the metrics BENCHMARK.json declares."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def test_end_to_end_metrics_match(self):
        declared = [(m["name"], m["unit"], m["better"]) for m in self.spec["end_to_end"]]
        self.assertEqual(declared, metrics.END_TO_END)

    def test_per_layer_metrics_match(self):
        declared = [(m["name"], m["unit"], m["better"]) for m in self.spec["per_layer"]]
        self.assertEqual(declared, metrics.per_layer_spec())

    def test_workloads_exist(self):
        for w in self.spec["workloads"]:
            self.assertIn(w["name"], gen.GENERATORS)


if __name__ == "__main__":
    unittest.main()
