"""Self-tests of the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_order_free(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 60), 3)

    def test_index_rounds_up(self):
        # rank = ceil(0.9 * 11) = 10, the 10th smallest
        self.assertEqual(stats.percentile(list(range(11)), 90), 9)

    def test_empty_refused(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_min_samples_leave_ten_beyond(self):
        self.assertEqual(stats.min_samples(90), 100)
        self.assertEqual(stats.min_samples(50), 20)
        self.assertEqual(stats.min_samples(99), 1000)
        for p in (50, 75, 90, 95, 99):
            n = stats.min_samples(p)
            self.assertGreaterEqual(n * (1 - p / 100), 10 - 1e-9)
            self.assertLess((n - 1) * (1 - p / 100), 10)


class FailFracTest(unittest.TestCase):
    def test_counts(self):
        self.assertEqual(stats.fail_frac(10, 0), 0.0)
        self.assertEqual(stats.fail_frac(8, 2), 0.25)
        self.assertEqual(stats.fail_frac(3, 3), 1.0)

    def test_refuses_impossible_counts(self):
        for attempted, failed in ((0, 0), (5, 6), (5, -1)):
            with self.assertRaises(ValueError):
                stats.fail_frac(attempted, failed)


class IntervalTest(unittest.TestCase):
    def test_union(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3)]), 3)
        self.assertEqual(stats.union_length([(0, 1), (2, 3)]), 2)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(stats.union_length([(5, 6), (0, 1), (1, 2)]), 3)  # touching, unsorted
        self.assertEqual(stats.union_length([(3, 3), (4, 2)]), 0.0)  # empty and reversed

    def test_self_time(self):
        span = (0, 100)
        self.assertEqual(stats.self_time(span, []), 100)
        # overlapping children count once
        self.assertEqual(stats.self_time(span, [(10, 30), (20, 40)]), 70)
        # a child running past the span's end is clipped to it
        self.assertEqual(stats.self_time(span, [(90, 120)]), 90)
        self.assertEqual(stats.self_time(span, [(-5, 105)]), 0)

    def test_driver_gap(self):
        # jobs at 10-20 and 15-30 and 60-70 inside 0-100: covered 30
        self.assertEqual(stats.driver_gap((0, 100), [(10, 20), (15, 30), (60, 70)]), 70)
        self.assertEqual(stats.driver_gap((0, 100), []), 100)
        # a job outside the span contributes nothing
        self.assertEqual(stats.driver_gap((0, 100), [(150, 160)]), 100)


class TraceTest(unittest.TestCase):
    def test_spans_and_groups(self):
        t = stats.Trace({
            "spans": [
                {"id": 0, "name": "request", "parent": -1, "req": 1, "start_ms": 0, "end_ms": 100, "attrs": {}},
                {"id": 1, "name": "score.topk", "parent": 0, "req": 1, "start_ms": 10, "end_ms": 60,
                 "attrs": {"wand": True, "hits": 10}},
            ],
            "jobs": [{"id": 0, "group": "span-1", "start_ms": 20, "end_ms": 40},
                     {"id": 1, "group": "span-1", "start_ms": 45, "end_ms": -1}],  # never ended
            "groups": {"span-1": {"jobs": 2, "cpu_ns": 5}},
        })
        request, topk = t.spans
        self.assertAlmostEqual(t.self_time(request), 0.05)
        self.assertAlmostEqual(t.gap(topk), 0.03)
        self.assertEqual(t.count(topk, "jobs"), 2)
        self.assertEqual(t.count(request, "jobs"), 0)
        s = t.summary()
        self.assertEqual(s["request"]["count"], 1)
        self.assertAlmostEqual(s["score.topk"]["self_s"], 0.05)


class TraceOverheadTest(unittest.TestCase):
    def test_ratio_of_medians(self):
        o = {"traced": [1.2, 1.1, 5.0, 1.0], "untraced": [1.0, 0.9, 1.1]}
        self.assertAlmostEqual(stats.trace_overhead(o), 1.15 / 1.0 - 1)

    def test_needs_both_passes(self):
        with self.assertRaises(ValueError):
            stats.trace_overhead({"traced": [1.0], "untraced": []})


if __name__ == "__main__":
    unittest.main()
