"""Tests of the benchmark's metric helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import compare
import metrics


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_samples(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(metrics.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 3.7)

    def test_rejects_no_samples(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_tail_leaves_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(10))
        self.assertEqual(metrics.tail_percentile(100), 90)
        for n in (11, 20, 57, 100, 1000):
            p = metrics.tail_percentile(n)
            xs = list(range(n))
            beyond = sum(x > metrics.percentile(xs, p) for x in xs)
            self.assertGreaterEqual(beyond, 10)
            if p < 99:
                nxt = sum(x > metrics.percentile(xs, p + 1) for x in xs)
                self.assertLess(nxt, 10)


class RatioTest(unittest.TestCase):
    def test_ratio_and_empty_base(self):
        self.assertEqual(metrics.ratio(3, 4), 0.75)
        self.assertEqual(metrics.ratio(5, 0), 0.0)

    def test_mean_of_nothing_is_zero(self):
        self.assertEqual(metrics.mean([]), 0.0)
        self.assertEqual(metrics.mean(iter([1, 2, 6])), 3.0)

    def test_spread_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 10.6]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(compare.spread(compare.quartiles(xs)),
                               (q3 - q1) / q2)

    def test_worse_by_follows_direction(self):
        self.assertAlmostEqual(compare.worse_by(2.0, 2.2, "lower"), 0.1)
        self.assertAlmostEqual(compare.worse_by(2.0, 2.2, "higher"), -0.1)


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(
            metrics.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.8)]), 4.0)
        self.assertEqual(metrics.union_length([(3, 3), (4, 2)]), 0.0)

    def test_self_time_subtracts_covered_part(self):
        # children overlap each other and stick out of the parent
        self.assertEqual(
            metrics.self_time((0, 10), [(1, 3), (2, 4), (9, 12)]), 6.0)
        self.assertEqual(metrics.self_time((0, 10), []), 10.0)
        self.assertEqual(metrics.self_time((0, 10), [(11, 12)]), 10.0)

    def test_spans_get_self_times(self):
        spans = [
            {"id": 0, "parent": -1, "start_ms": 0.0, "end_ms": 100.0},
            {"id": 1, "parent": 0, "start_ms": 10.0, "end_ms": 40.0},
            {"id": 2, "parent": 0, "start_ms": 30.0, "end_ms": 60.0},
            {"id": 3, "parent": 1, "start_ms": 15.0, "end_ms": 20.0},
        ]
        got = {s["id"]: s["self_ms"] for s in metrics.with_self_times(spans)}
        self.assertEqual(got, {0: 50.0, 1: 25.0, 2: 30.0, 3: 5.0})


class ReportTest(unittest.TestCase):
    RAW = {
        "traced": False, "cores": 4, "attempted": 5, "failures": [],
        "builds": [{"total_s": 9.0}, {"total_s": 3.0}, {"total_s": 4.0}],
        "warmup_s": 6.0,
        "ops": [
            {"kind": "query", "name": "serve", "dur_s": 4.0, "queries": 8},
            {"kind": "commit", "name": "upsert", "dur_s": 1.0, "queries": 0},
            {"kind": "query", "name": "serve", "dur_s": 6.0, "queries": 8},
            {"kind": "commit", "name": "delete", "dur_s": 2.0, "queries": 0},
        ],
        "recall": [1.0, 0.5], "stored_bytes": 300, "raw_bytes": 200,
        "layer": {},
    }

    def test_end_to_end_metrics(self):
        values, lines = metrics.report(self.RAW)
        self.assertEqual(set(values), set(metrics.END_TO_END))
        v = {k: m["value"] for k, m in values.items()}
        self.assertEqual(v["setup_s"], 4.0 + 6.0)
        self.assertEqual(v["query_p50_s"], 5.0)
        self.assertEqual(v["queries_per_s"], 16 / 13.0)
        self.assertEqual(v["recall"], 0.75)
        self.assertEqual(v["stored_bytes_per_raw_byte"], 1.5)
        self.assertIn("commit_p50_s 1.5000 s (2 commits)", lines)
        self.assertTrue(any(line.startswith("failed_frac 0.0000")
                            for line in lines))


if __name__ == "__main__":
    unittest.main()
