"""Tests for the benchmark's pure rules.

    python3 -m unittest perfbench/test_rules.py
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import rules  # noqa: E402


class TailTest(unittest.TestCase):
    def test_at_least_ten_samples_beyond(self):
        for n in range(1, 400):
            p = rules.tail_percentile(n)
            beyond = n - (-(-p * n // 100))
            if p > 50:
                self.assertGreaterEqual(beyond, rules.MIN_BEYOND, n)
                # the next percentile up would leave fewer than ten
                if p < 99:
                    nxt = n - (-(-(p + 1) * n // 100))
                    self.assertLess(nxt, rules.MIN_BEYOND, n)

    def test_known_sizes(self):
        self.assertEqual(rules.tail_percentile(20), 50)
        self.assertEqual(rules.tail_percentile(40), 75)
        self.assertEqual(rules.tail_percentile(100), 90)
        self.assertEqual(rules.tail_percentile(1000), 99)
        # too few samples for any tail: the median stands in
        self.assertEqual(rules.tail_percentile(5), 50)

    def test_tail_value(self):
        xs = list(range(1, 41))  # 40 samples: p75 is the 30th value
        self.assertEqual(rules.tail(xs), (75, 30))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0.0, "end": 10.0},
            {"id": 1, "parent": 0, "start": 1.0, "end": 5.0},
            {"id": 2, "parent": 0, "start": 3.0, "end": 7.0},  # overlaps 1
            {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
        ]
        st = rules.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 6.0)  # children cover [1, 7]
        self.assertAlmostEqual(st[1], 4.0 - 1.0)
        self.assertAlmostEqual(st[2], 4.0)
        self.assertAlmostEqual(st[3], 1.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0.0, "end": 4.0},
            {"id": 1, "parent": 0, "start": 3.0, "end": 9.0},
        ]
        self.assertAlmostEqual(rules.self_times(spans)[0], 3.0)


class FailedFracTest(unittest.TestCase):
    def test_wrong_output_counts_as_failure(self):
        self.assertAlmostEqual(rules.failed_frac(10, set(), {3}), 0.1)

    def test_failed_and_wrong_count_once(self):
        self.assertAlmostEqual(rules.failed_frac(4, {1, 2}, {2, 3}), 0.75)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            rules.failed_frac(0, set(), set())


class CatalogueTest(unittest.TestCase):
    NAMED_FIGURES = {
        "setup_s", "query_p50_s", "query_tail_s", "sqlgen_p50_s",
        "docs_per_s", "ingest_p50_s", "takedown_p50_s", "write_tail_s",
        "freshness_p50_s", "probe_p50_s", "write_amp", "space_amp",
        "failed_frac", "heap_peak_mb",
    }

    def test_report_carries_the_named_figures(self):
        self.assertEqual(set(rules.REPORT), self.NAMED_FIGURES)

    def test_every_metric_has_a_unit(self):
        for cat in (rules.END_TO_END, rules.PER_LAYER, rules.REPORT):
            for name, unit in cat.items():
                self.assertTrue(unit, name)

    def test_benchmark_json_matches_catalogue(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "..", "BENCHMARK.json")
        with open(path) as fh:
            bench = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         rules.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         rules.PER_LAYER)

    def test_metric_block_prints_every_name_with_its_unit(self):
        vals = {k: 1.0 for k in rules.END_TO_END}
        block = rules.metric_block(vals, rules.END_TO_END)
        self.assertEqual(list(block), list(rules.END_TO_END))
        for k, v in block.items():
            self.assertEqual(v["unit"], rules.END_TO_END[k])

    def test_metric_block_rejects_missing_or_nan(self):
        vals = {k: 1.0 for k in rules.END_TO_END}
        vals.pop("setup_s")
        with self.assertRaises(ValueError):
            rules.metric_block(vals, rules.END_TO_END)
        vals["setup_s"] = float("nan")
        with self.assertRaises(ValueError):
            rules.metric_block(vals, rules.END_TO_END)


class UnionTest(unittest.TestCase):
    def test_union(self):
        self.assertAlmostEqual(
            rules.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertAlmostEqual(rules.union_length([(0, 10)], 2, 4), 2.0)
        self.assertEqual(rules.union_length([]), 0.0)


if __name__ == "__main__":
    unittest.main()
