"""Checks for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import random
import unittest

import stats


class TailRule(unittest.TestCase):
    def test_exactly_ten_samples_beyond(self):
        for n in (20, 21, 37, 100, 1000):
            xs = list(range(1, n + 1))
            random.Random(n).shuffle(xs)
            value, pct, count = stats.tail(xs)
            self.assertEqual(count, n)
            self.assertEqual(sum(1 for x in xs if x > value), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_named_percentiles(self):
        self.assertEqual(stats.tail(range(100))[1], 90.0)
        self.assertEqual(stats.tail(range(1000))[1], 99.0)
        self.assertEqual(stats.tail(range(1000))[0], 989)

    def test_small_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail([5, 1, 3]), (3, 50.0, 3))
        self.assertEqual(stats.tail(range(19)), (9, 50.0, 19))
        self.assertEqual(stats.tail([]), (0.0, 50.0, 0))


class SelfTime(unittest.TestCase):
    def span(self, kind, start, end):
        return {"kind": kind, "start": start, "end": end}

    def test_nested_layers_subtract_children(self):
        spans = [self.span("pass", 0, 10), self.span("op", 1, 9),
                 self.span("phase", 2, 8), self.span("job", 3, 7),
                 self.span("stage", 4, 5)]
        got = stats.self_times(spans, (0, 10))
        self.assertEqual(got, {"pass": 2, "op": 2, "phase": 2, "job": 3, "stage": 1})

    def test_concurrent_jobs_are_counted_once(self):
        spans = [self.span("pass", 0, 10), self.span("job", 2, 6),
                 self.span("job", 4, 8), self.span("stage", 5, 7)]
        got = stats.self_times(spans, (0, 10))
        self.assertEqual(got, {"pass": 4, "job": 4, "stage": 2})

    def test_parts_sum_to_the_window(self):
        rng = random.Random(7)
        kinds = list(stats.DEPTH)
        spans = []
        for _ in range(300):
            s = rng.uniform(0, 100)
            spans.append(self.span(rng.choice(kinds), s, s + rng.uniform(0, 20)))
        got = stats.self_times(spans, (10, 90))
        self.assertAlmostEqual(sum(got.values()), 80)

    def test_uncovered_time_is_none(self):
        got = stats.self_times([self.span("op", 2, 3)], (0, 4))
        self.assertEqual(got, {"none": 3, "op": 1})

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (4, 4)]), 4)
        self.assertEqual(stats.union_length([]), 0)


class Amplification(unittest.TestCase):
    def test_ratios(self):
        # 1000 user bytes; files of 600 + 700 written, then compacted into
        # one 1200-byte file that alone stays live
        w, s = stats.amplification(600 + 700 + 1200, 1200, 1000)
        self.assertAlmostEqual(w, 2.5)
        self.assertAlmostEqual(s, 1.2)

    def test_no_user_bytes(self):
        self.assertEqual(stats.amplification(10, 10, 0), (0.0, 0.0))


if __name__ == "__main__":
    unittest.main()
