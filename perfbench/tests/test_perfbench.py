"""Self-tests of the benchmark's own logic (no JVM needed).

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_100_samples(self):
        self.assertFalse(metrics.supported(99, 90))
        self.assertTrue(metrics.supported(100, 90))
        self.assertEqual(metrics.beyond(100, 90), 10)

    def test_median_needs_20_samples(self):
        self.assertFalse(metrics.supported(19, 50))
        self.assertTrue(metrics.supported(20, 50))

    def test_percentile_refuses_unsupported(self):
        with self.assertRaises(ValueError):
            metrics.percentile(list(range(50)), 90)

    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(metrics.percentile(values, 90), 90)
        self.assertEqual(metrics.percentile(values, 50), 50)
        self.assertEqual(metrics.percentile(list(reversed(values)), 50), 50)


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "kind": "x", "name": str(i),
            "start_ns": start, "end_ns": end, "attrs": {}}


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        parent = span(1, 0, 0, 100)
        # two parallel stages 10..50 and 30..70, one nested in the first
        kids = [span(2, 1, 10, 50), span(3, 1, 30, 70), span(4, 1, 20, 40)]
        self.assertEqual(metrics.self_time(parent, kids), 100 - 60)

    def test_children_are_clipped_to_the_parent(self):
        parent = span(1, 0, 100, 200)
        kids = [span(2, 1, 50, 120), span(3, 1, 190, 260), span(4, 1, 300, 400)]
        self.assertEqual(metrics.self_time(parent, kids), 100 - 20 - 10)

    def test_no_children(self):
        self.assertEqual(metrics.self_time(span(1, 0, 5, 9), []), 4)


class ResultCheck(unittest.TestCase):
    def setUp(self):
        import pandas as pd
        self.pd = pd
        self.good = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})

    def test_same_rows_in_another_order_match(self):
        shuffled = self.good.iloc[[2, 0, 1]][["v", "k"]]
        self.assertIsNone(run.compare(shuffled, self.good))

    def test_corrupted_value_is_flagged(self):
        bad = self.good.copy()
        bad.loc[1, "v"] = 1.5000001
        self.assertIsNotNone(run.compare(bad, self.good))

    def test_missing_row_and_renamed_column_are_flagged(self):
        self.assertIsNotNone(run.compare(self.good.iloc[:2], self.good))
        self.assertIsNotNone(run.compare(self.good.rename(columns={"v": "w"}), self.good))


class MetricNames(unittest.TestCase):
    def test_declared_names_are_valid_and_reported(self):
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        e2e = [m["name"] for m in bench["end_to_end"]]
        layers = [m["name"] for m in bench["per_layer"]]
        for name in e2e + layers + [w["name"] for w in bench["workloads"]]:
            self.assertTrue(metrics.valid_name(name), name)
        self.assertEqual(sorted(layers), sorted(metrics.PER_LAYER_UNITS))
        self.assertEqual({m["unit"] for m in bench["per_layer"] if m["name"] == "operators.jobs"},
                         {"count"})

    def test_invalid_names_are_rejected(self):
        for bad in ("", "_x", "a b", "a/b", "x" * 65, "p90%"):
            self.assertFalse(metrics.valid_name(bad), bad)


if __name__ == "__main__":
    unittest.main()
