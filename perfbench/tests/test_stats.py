"""Unit tests for the benchmark's own logic.

Run from the repository root:  python3 -m unittest discover perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 28))  # 27 samples
        p, v, n = stats.tail(xs)
        self.assertEqual((p, n), (62, 27))
        # rank ceil(62 * 27 / 100) = 17 leaves exactly 10 samples beyond
        self.assertEqual(v, 17)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_more_samples_move_the_percentile_up(self):
        self.assertEqual(stats.tail(range(100))[0], 90)
        self.assertEqual(stats.tail(range(1000))[0], 99)
        self.assertEqual(stats.tail(range(1000))[1], 989)

    def test_never_fewer_than_ten_beyond(self):
        for n in range(11, 400):
            p, v, _ = stats.tail(range(n))
            self.assertGreaterEqual(sum(1 for x in range(n) if x > v), 10, n)
            if p < 99:
                # the next percentile up would leave fewer than ten
                r = -(-(p + 1) * n // 100)
                self.assertLess(n - r, 10, n)

    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100, 3.0, 3))
        self.assertEqual(stats.tail(range(10)), (100, 9, 10))
        self.assertEqual(stats.tail(range(11)), (9, 0, 11))

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 0, 11, 10, 12]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class PairWinTest(unittest.TestCase):
    def test_lower_is_better(self):
        self.assertEqual(stats.pair_wins([10, 10, 10, 10], [9, 11, 8, 7],
                                         "lower"), 0.75)

    def test_higher_is_better(self):
        self.assertEqual(stats.pair_wins([1, 2], [2, 1], "higher"), 0.5)

    def test_ties_count_for_neither_side(self):
        self.assertEqual(stats.pair_wins([5, 5, 5], [5, 4, 5], "lower"),
                         1 / 3)
        self.assertEqual(stats.pair_wins([5, 5, 5], [5, 6, 5], "lower"), 0)

    def test_pairs_follow_run_order(self):
        # every change run is below every parent median, but paired in
        # order the change loses the second pair
        self.assertEqual(stats.pair_wins([10, 4], [9, 5], "lower"), 0.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.pair_wins([], [], "lower")


class CompareTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.1]

    def test_same_code_is_no_change(self):
        v = stats.compare_metric(self.parent, list(reversed(self.parent)),
                                 "lower", 0.1)
        self.assertEqual(v["verdict"], "no change")
        self.assertTrue(v["within_bound"])

    def test_gain_needs_nine_tenths_of_pairs(self):
        change = [x * 0.8 for x in self.parent]
        v = stats.compare_metric(self.parent, change, "lower", 0.1)
        self.assertEqual(v["verdict"], "gain")
        self.assertEqual(v["pairs_won"], 1.0)
        # the same medians with three lost pairs are not a gain
        mixed = change[:7] + [11.0, 11.0, 11.0]
        self.assertNotEqual(
            stats.compare_metric(self.parent, mixed, "lower", 0.5)["verdict"],
            "gain")

    def test_gain_needs_medians_apart_by_more_than_the_spread(self):
        change = [x - 0.01 for x in self.parent]
        v = stats.compare_metric(self.parent, change, "lower", 0.1)
        self.assertEqual(v["pairs_won"], 1.0)
        self.assertEqual(v["verdict"], "no change")

    def test_regression_beyond_the_bound(self):
        change = [x * 1.2 for x in self.parent]
        v = stats.compare_metric(self.parent, change, "lower", 0.1)
        self.assertEqual(v["verdict"], "regression")
        self.assertFalse(v["within_bound"])
        self.assertAlmostEqual(v["worse_share"], 0.2, places=6)

    def test_higher_is_better_direction(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(
            stats.compare_metric(self.parent, change, "higher", 0.1)["verdict"],
            "gain")
        self.assertEqual(
            stats.compare_metric(change, self.parent, "higher", 0.1)["verdict"],
            "regression")

    def test_noisy_parent_is_unresolved(self):
        noisy = [5.0, 15.0, 8.0, 12.0, 6.0, 14.0, 9.0, 11.0, 7.0, 13.0]
        change = [x * 1.05 for x in noisy]
        v = stats.compare_metric(noisy, change, "lower", 0.1)
        self.assertEqual(v["verdict"], "unresolved")

    def test_noisy_but_every_run_better_is_resolved(self):
        noisy = [10.0, 14.0, 11.0, 13.0, 12.0]
        change = [5.0, 6.0, 5.5, 6.5, 7.0]
        v = stats.compare_metric(noisy, change, "lower", 0.1)
        self.assertEqual(v["verdict"], "gain")


class RowRatioTest(unittest.TestCase):
    def test_geomean_of_per_row_median_ratios(self):
        parent = {"a": [1.0, 1.0, 1.0], "b": [4.0, 4.0, 4.0], "only_p": [1.0]}
        change = {"a": [2.0, 2.0, 9.0], "b": [2.0, 2.0, 2.0], "only_c": [1.0]}
        r = stats.row_ratios(parent, change)
        self.assertEqual(r["ratios"], {"a": 2.0, "b": 0.5})
        self.assertAlmostEqual(r["geomean"], 1.0)
        self.assertEqual(r["missing"], ["only_c", "only_p"])

    def test_geomean_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        import statistics
        xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 8.0, 7.0]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartiles(xs), (q1, statistics.median(xs), q3))
        self.assertAlmostEqual(stats.spread(xs),
                               (q3 - q1) / statistics.median(xs))

    def test_single_value(self):
        self.assertEqual(stats.quartiles([2.0]), (2.0, 2.0, 2.0))
        self.assertEqual(stats.spread([2.0]), 0.0)


if __name__ == "__main__":
    unittest.main()
