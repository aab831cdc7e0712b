"""Tests of the benchmark's own logic. Run: python3 -m unittest perfbench/test_perfbench.py"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import lib  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(lib.percentile(xs, 50), 50)
        self.assertEqual(lib.percentile(xs, 99), 99)
        self.assertEqual(lib.percentile(xs, 100), 100)
        self.assertEqual(lib.percentile([7.0], 50), 7.0)
        self.assertEqual(lib.percentile([3, 1, 2], 50), 2)  # unsorted input

    def test_empty_is_refused(self):
        with self.assertRaises(ValueError):
            lib.percentile([], 50)

    def test_tail_keeps_ten_samples_beyond(self):
        # 1000 samples: p99 leaves exactly 10 beyond it
        self.assertEqual(lib.tail(list(range(1000))), (99.0, 989))
        # 999 samples: p99 leaves 9, so p95 is the highest reportable
        self.assertEqual(lib.tail(list(range(999)))[0], 95.0)
        self.assertEqual(lib.tail(list(range(120)))[0], 90.0)
        self.assertEqual(lib.tail(list(range(20)))[0], 50.0)
        self.assertIsNone(lib.tail(list(range(19))))
        for n in (20, 40, 120, 200, 999, 1000, 5000):
            p, _ = lib.tail(list(range(n)))
            self.assertGreaterEqual(lib.beyond(n, p), lib.MIN_BEYOND)


class SeededInputsTest(unittest.TestCase):
    def test_request_sequences_repeat_for_a_seed(self):
        a = lib.request_sequence(7, 2, 200)
        self.assertEqual(a, lib.request_sequence(7, 2, 200))
        self.assertNotEqual(a, lib.request_sequence(8, 2, 200))
        self.assertNotEqual(a, lib.request_sequence(7, 3, 200))

    def test_request_mix(self):
        reqs = lib.request_sequence(11, 0, 20)
        count = {e: sum(p.startswith("/" + e) for p, _, _ in reqs)
                 for e in ("company", "ratios", "screener")}
        self.assertEqual(count, {"company": 8, "ratios": 8, "screener": 4})
        misses = [s for p, s, _ in reqs if p.startswith("/company/ZZ")]
        self.assertEqual(misses, [404])
        self.assertTrue(all(s == 200 for p, s, _ in reqs
                            if not p.startswith("/company/ZZ")))
        small = lib.request_sequence(11, 0, 10)
        self.assertEqual(sum(s == 404 for _, s, _ in small), 1)

    def test_tables_repeat_for_a_seed(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 3), ("b", 3), ("c", 4)):
                gen.generate(os.path.join(d, name), seed, 0.001)
            for t in ("lineitem", "documents", "embeddings"):
                a, b, c = (pq.read_table(os.path.join(d, n, f"{t}.parquet"))
                           for n in "abc")
                self.assertTrue(a.equals(b))
                self.assertFalse(a.equals(c))


class DecideTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]

    def test_clear_gain(self):
        change = [x * 0.8 for x in self.parent]
        self.assertEqual(lib.decide(self.parent, change, 0.1), "better")

    def test_gain_needs_nine_of_ten_wins(self):
        change = [x * 0.95 for x in self.parent]
        change[0], change[1] = 11.0, 11.0  # two lost pairs
        self.assertNotEqual(lib.decide(self.parent, change, 0.1), "better")

    def test_gain_must_exceed_parent_iqr(self):
        change = [x - 0.01 for x in self.parent]  # wins every pair, tiny shift
        self.assertEqual(lib.decide(self.parent, change, 0.1), "no change")

    def test_regression_beyond_bound(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(lib.decide(self.parent, change, 0.1), "regression")
        self.assertEqual(lib.decide(self.parent, change, 0.25), "no change")

    def test_higher_is_better(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(lib.decide(self.parent, change, 0.1, False), "better")

    def test_wide_spread_is_unresolved(self):
        noisy = [5.0, 15.0, 9.0, 11.0, 6.0, 14.0, 10.0, 8.0, 12.0, 10.0]
        self.assertEqual(lib.decide(self.parent, noisy, 0.1), "unresolved")
        # unless every change run beats every parent run
        fast = [x / 10.0 for x in noisy]
        self.assertEqual(lib.decide(self.parent, fast, 0.1), "better")

    def test_too_few_pairs(self):
        self.assertEqual(lib.decide(self.parent[:9], self.parent[:9], 0.1),
                         "too few pairs")


if __name__ == "__main__":
    unittest.main()
