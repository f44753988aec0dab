"""Unit tests of the harness statistics. Run from the repository root:

    python3 -m unittest discover -s geobench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 0.5), 50)
        self.assertEqual(metrics.percentile(xs, 0.9), 90)
        self.assertEqual(metrics.percentile([7.0], 0.9), 7.0)
        self.assertEqual(metrics.percentile([3, 1, 2], 0.9), 3)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)

    def test_sufficiency_needs_ten_beyond(self):
        # 100 distinct samples: exactly 10 lie beyond p90
        value, n = metrics.sufficient_percentile(list(range(100)), 0.9)
        self.assertEqual((value, n), (89, 10))
        # 99 samples leave 9 beyond: the percentile is dropped
        value, n = metrics.sufficient_percentile(list(range(99)), 0.9)
        self.assertIsNone(value)
        self.assertEqual(n, 9)
        # ties at the cut do not count as beyond it
        value, n = metrics.sufficient_percentile([1.0] * 95 + [2.0] * 5, 0.9)
        self.assertIsNone(value)
        self.assertEqual(n, 5)

    def test_median(self):
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)


class GeomeanTest(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(metrics.geomean([2.0, 8.0]), 4.0)
        self.assertAlmostEqual(metrics.geomean([5.0]), 5.0)
        self.assertAlmostEqual(metrics.geomean([1.0, 10.0, 100.0]), 10.0)

    def test_rejects_non_positive(self):
        for bad in ([], [1.0, 0.0], [-1.0]):
            with self.assertRaises(ValueError):
                metrics.geomean(bad)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time(0, 10, []), 10)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.covered([(1, 4), (3, 6), (8, 9)], 0, 10), 6)
        self.assertEqual(metrics.self_time(0, 10, [(1, 4), (3, 6), (8, 9)]), 4)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time(0, 10, [(-5, 2), (9, 20)]), 7)
        self.assertEqual(metrics.self_time(0, 10, [(11, 12), (-3, -1)]), 10)

    def test_nested_and_touching(self):
        self.assertEqual(metrics.covered([(1, 9), (2, 3), (9, 10)], 0, 10), 9)


class SteadyStateTest(unittest.TestCase):
    @staticmethod
    def state(cycle, files=8, deletes=0, nbytes=1000):
        return {"phase": "timed", "cycle": cycle, "files": files, "deletes": deletes, "bytes": nbytes}

    def test_steady_run_passes(self):
        states = [self.state(c) for c in range(3)]
        self.assertEqual(metrics.steady_state([10, 11, 12], [11, 12, 10], states, 0.15), [])

    def test_read_drift_beyond_bound_fails(self):
        problems = metrics.steady_state([100, 100], [130, 130], [], 0.15)
        self.assertEqual(len(problems), 1)
        self.assertIn("moved", problems[0])
        self.assertEqual(metrics.steady_state([100, 100], [110, 110], [], 0.15), [])

    def test_growing_table_fails(self):
        states = [self.state(0), self.state(1, files=9)]
        self.assertEqual(len(metrics.steady_state([], [], states, 0.15)), 1)
        states = [self.state(0), self.state(1, deletes=1)]
        self.assertEqual(len(metrics.steady_state([], [], states, 0.15)), 1)

    def test_bytes_within_tolerance(self):
        ok = [self.state(0, nbytes=100000), self.state(1, nbytes=100500)]
        self.assertEqual(metrics.steady_state([], [], ok, 0.15), [])
        grown = [self.state(0, nbytes=100000), self.state(1, nbytes=102000)]
        self.assertEqual(len(metrics.steady_state([], [], grown, 0.15)), 1)


class EndToEndTest(unittest.TestCase):
    def raw(self):
        # two timed cycles of 60 reads and 2 writes each, one warm cycle
        ops, t, i = [], 0.0, 0
        for phase, cycles in (("warm", 1), ("timed", 2)):
            for c in range(cycles):
                for k in range(60):
                    ops.append([i, "read", phase, c, t, 10.0 + k % 10, True, 0])
                    i, t = i + 1, t + 20
                for cls in ("append", "delete"):
                    ops.append([i, cls, phase, c, t, 50.0, True, 40])
                    i, t = i + 1, t + 60
        states = [["warm", 0, 8, 0, 1000], ["timed", 0, 8, 0, 1000], ["timed", 1, 8, 0, 1000]]
        return {"ops": ops, "states": states, "primary_read": "read",
                "side_classes": ["append", "delete"], "write_classes": ["append", "delete"],
                "append_classes": ["append"], "timed_ms": [0.0, 4000.0, 1000.0],
                "session_s": 2.0, "build_s": [5.0, 1.0, 1.5], "heap_retained_mb": 80.0,
                "written_bytes": 4000.0, "submitted_bytes": 1000.0, "end_bytes": 1200.0,
                "reference_bytes": 1000.0, "recalls": []}

    def test_metrics(self):
        m, detail, problems = metrics.end_to_end(self.raw(), 0.15)
        self.assertEqual(m["setup_s"], (3.5, "s"))
        self.assertAlmostEqual(m["ops_per_s"][0], 124 / 3.0)
        self.assertEqual(m["read_p50_ms"], (14.5, "ms"))
        self.assertAlmostEqual(m["side_p50_ms"][0], 50.0)
        self.assertEqual(detail["samples"], {"append": 2, "delete": 2, "read": 120})
        self.assertAlmostEqual(detail["ingest_rows_per_s"], 800.0)
        self.assertAlmostEqual(detail["write_amp"], 4.0)
        self.assertAlmostEqual(detail["space_amp"], 1.2)
        self.assertNotIn("write_p90_ms", detail)
        # 120 reads, 12 of them beyond p90: reported; 4 writes: not
        self.assertEqual((detail["read_p90_ms"], detail["read_p90_beyond"]), (18.0, 12))
        self.assertEqual(problems, [])

    def test_failed_guard_is_reported(self):
        raw = self.raw()
        raw["states"][-1][2] = 9
        _, _, problems = metrics.end_to_end(raw, 0.15)
        self.assertEqual(len(problems), 1)


if __name__ == "__main__":
    unittest.main()
