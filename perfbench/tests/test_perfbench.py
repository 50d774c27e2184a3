"""Tests of the benchmark's own arithmetic: the output digest, the d4
oracle's hash, the tail percentile and span self time.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402

import checks  # noqa: E402
import stats  # noqa: E402


class DigestTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
        b = pd.DataFrame({"v": [2.5, 0.5, 1.5], "k": [3, 1, 2]})
        self.assertEqual(checks.digest(a), checks.digest(b))

    def test_floats_round_to_nine_significant_digits(self):
        a = pd.DataFrame({"v": [0.1 + 0.2]})
        b = pd.DataFrame({"v": [0.3]})
        self.assertEqual(checks.digest(a), checks.digest(b))
        c = pd.DataFrame({"v": [0.3001]})
        self.assertNotEqual(checks.digest(a), checks.digest(c))

    def test_nulls_and_duplicates_count(self):
        a = pd.DataFrame({"k": [1, 1], "s": ["x", None]})
        b = pd.DataFrame({"k": [1], "s": ["x"]})
        self.assertNotEqual(checks.digest(a), checks.digest(b))
        self.assertEqual(checks.canon_rows(a), ["1\x01null", "1\x01x"])

    def test_int_and_float_columns_of_equal_value_differ_only_by_form(self):
        ints = pd.DataFrame({"n": [2]})
        floats = pd.DataFrame({"n": [2.0]})
        self.assertEqual(checks.canon_rows(ints), checks.canon_rows(floats))


class SimhashTest(unittest.TestCase):
    def test_fnv1a_64_reference_value(self):
        self.assertEqual(checks._fnv64(b"a"), 0xaf63dc4c8601ec8c)

    def test_single_token_simhash_is_its_hash(self):
        self.assertEqual(checks.simhash("a"), 0xaf63dc4c8601ec8c)
        self.assertEqual(checks.simhash("a  a"), checks.simhash("a"))


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        p, v, n = stats.tail(xs)
        self.assertEqual((p, v, n), (90.0, 90, 100))
        p, v, n = stats.tail(list(range(1, 1001)))
        self.assertEqual((p, v), (99.0, 990))

    def test_too_few_samples_give_no_tail(self):
        self.assertIsNone(stats.tail(list(range(19))))
        p, _, _ = stats.tail(list(range(20)))
        self.assertEqual(p, 50.0)

    def test_nearest_rank_percentile(self):
        self.assertEqual(stats.percentile([5, 1, 3], 50), 3)
        self.assertEqual(stats.percentile([5, 1, 3], 100), 5)
        self.assertEqual(stats.percentile([5, 1, 3], 1), 1)


def span(i, parent, start, end, layer="x"):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end,
            "layer": layer, "name": layer, "op": "", "pass": 0}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(0, -1, 0, 10_000_000_000, "bench"),
                 span(1, 0, 1_000_000_000, 4_000_000_000, "plans"),
                 span(2, 0, 5_000_000_000, 9_000_000_000, "spark")]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 3.0)
        self.assertAlmostEqual(st[1], 3.0)
        self.assertAlmostEqual(st[2], 4.0)
        layers = stats.layer_self_times(spans)
        self.assertAlmostEqual(sum(layers.values()), 10.0)

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 10, "bench"), span(1, 0, 2, 6), span(2, 0, 4, 8)]
        self.assertEqual(stats.self_times(spans)[0] * 1e9, 4)

    def test_overlapping_siblings_share_their_overlap(self):
        spans = [span(0, -1, 0, 10, "bench"), span(1, 0, 2, 6, "spark"),
                 span(2, 0, 4, 8, "spark")]
        st = stats.self_times(spans)
        for i, want in enumerate([4, 3, 3]):
            self.assertAlmostEqual(st[i] * 1e9, want)
        self.assertAlmostEqual(sum(stats.layer_self_times(spans).values()) * 1e9, 10)

    def test_children_are_clipped_to_their_parent(self):
        spans = [span(0, -1, 0, 10, "bench"), span(1, 0, 5, 10, "op"),
                 span(2, 1, 8, 14, "spark")]
        st = stats.self_times(spans)
        for i, want in enumerate([5, 3, 2]):
            self.assertAlmostEqual(st[i] * 1e9, want)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [span(0, -1, 0, 10, "bench"), span(1, 0, 0, 10, "op"),
                 span(2, 1, 0, 5, "plans")]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 0)
        self.assertEqual(st[1] * 1e9, 5)


if __name__ == "__main__":
    unittest.main()
