"""End-to-end pass of every workload on tiny tables: the exact-answer
checks, the table-state part of the steady-state guard and the output
contract. Builds the harness first when needed. Run from the repository
root:

    python3 -m unittest discover -s geobench/tests
"""

import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.abspath(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".."))


def run(workload, trace):
    r = subprocess.run([sys.executable, os.path.join("geobench", "run.py"), "--workload", workload,
                        "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny"],
                       cwd=ROOT, capture_output=True, text=True, timeout=1200)
    if r.returncode != 0:
        raise AssertionError(f"{workload} exited {r.returncode}: {r.stderr[-2000:]}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2].split(": ", 1)[1])


class TinyRunTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def check(self, workload):
        result, detail = run(workload, 0)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        # tiny cycles are too short for the latency half of the guard; every
        # answer must still be exact and the tables must not grow
        self.assertEqual(result["failed"], 0, detail)
        self.assertEqual(detail["failures"], [])
        self.assertEqual([p for p in detail["problems"] if "ended with" in p], [])
        self.assertGreater(result["attempted"], 0)
        names = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        self.assertEqual(set(result["metrics"]), set(names))
        for name, m in result["metrics"].items():
            self.assertEqual(m["unit"], names[name])
            self.assertGreater(m["value"], 0, name)
        return detail

    def test_spatial_query(self):
        detail = self.check("spatial_query")
        self.assertEqual(detail["recall_at_10"], 1.0)

    def test_table_churn(self):
        detail = self.check("table_churn")
        self.assertGreater(detail["write_amp"], 1.0)
        self.assertGreater(detail["space_amp"], 0.0)

    def test_index_churn(self):
        detail = self.check("index_churn")
        self.assertGreater(detail["recall_at_10"], 0.0)

    def test_trace_prints_every_layer_metric(self):
        result, detail = run("index_churn", 1)
        self.assertEqual((result["failed"], detail["failures"]), (0, []))
        self.assertEqual(set(result["metrics"]), {m["name"] for m in self.spec["per_layer"]})
        for name in ("trace.overhead_pct", "ops.hybrid_probe_ms", "driver.self_ms.doc_append"):
            self.assertNotIn(name, detail["absent_layers"])
        self.assertIn("spark.jobs.hybrid", result["metrics"])


if __name__ == "__main__":
    unittest.main()
