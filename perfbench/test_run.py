"""Self-tests of the runner's output contract.

Run from the repository root:  python3 -m unittest perfbench/test_run.py
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class OutputContract(unittest.TestCase):
    def setUp(self):
        self.spec = run.load_json(os.path.join(run.ROOT, "BENCHMARK.json"))
        self.layers = run.load_json(os.path.join(run.HERE, "layers.json"))["per_layer"]

    def result(self, workload, drop=None):
        per_layer = {n: 1.5 for n, v in self.layers.items()
                     if v["workload"] in ("all", workload) and n != drop}
        e2e = {m["name"]: 2.5 for m in self.spec["end_to_end"] if m["name"] != drop}
        return {"workload": workload, "attempted": 12, "failed": 0,
                "end_to_end": e2e, "per_layer": per_layer}

    def test_layer_map_covers_exactly_the_declared_metrics(self):
        self.assertEqual([m["name"] for m in self.spec["per_layer"]], list(self.layers))
        for m in self.spec["per_layer"]:
            self.assertEqual(m["unit"], self.layers[m["name"]]["unit"])
        workloads = {w["name"] for w in self.spec["workloads"]} | {"all"}
        for v in self.layers.values():
            self.assertIn(v["workload"], workloads)

    def test_printed_line_parses_and_names_every_metric_with_its_unit(self):
        for w in self.spec["workloads"]:
            for trace, section in ((0, "end_to_end"), (1, "per_layer")):
                line = json.dumps(run.compose(self.spec, self.layers,
                                              self.result(w["name"]), trace))
                out = json.loads(line.splitlines()[-1])
                self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(out["correct"])
                self.assertEqual(set(out["metrics"]), {m["name"] for m in self.spec[section]})
                for m in self.spec[section]:
                    self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"])
                    self.assertIsInstance(out["metrics"][m["name"]]["value"], float)

    def test_a_failed_operation_makes_the_run_incorrect(self):
        r = self.result("stream_ingest")
        r["failed"] = 1
        self.assertFalse(run.compose(self.spec, self.layers, r, 0)["correct"])

    def test_a_metric_the_workload_owns_must_be_measured(self):
        with self.assertRaises(KeyError):
            run.compose(self.spec, self.layers, self.result("stream_ingest", "batch_p50_s"), 1)
        with self.assertRaises(KeyError):
            run.compose(self.spec, self.layers, self.result("warehouse_queries", "setup_s"), 0)


if __name__ == "__main__":
    unittest.main()
