"""Tests of the benchmark's arithmetic.

    python3 -m unittest discover -s linkbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import benchmath as bm  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(bm.percentile(xs, 50), 3)
        self.assertEqual(bm.percentile(xs, 100), 5)
        self.assertEqual(bm.percentile(xs, 0), 1)
        self.assertEqual(bm.percentile(list(range(1, 101)), 90), 90)
        self.assertEqual(bm.percentile(list(range(1, 101)), 90.5), 91)
        self.assertEqual(bm.percentile(list(range(1, 10001)), 99.9), 9990)

    def test_percentile_of_nothing_is_an_error(self):
        with self.assertRaises(ValueError):
            bm.percentile([], 50)

    def test_spread_is_quartile_distance_over_median(self):
        xs = [10.0, 11.0, 9.5, 10.5, 12.0, 9.0, 10.2, 10.8, 11.5, 9.8]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(bm.spread(xs), (q3 - q1) / statistics.median(xs))
        self.assertEqual(bm.spread([3.0] * 10), 0.0)


class SelfTime(unittest.TestCase):
    def span(self, id_, parent, start, end):
        return {"id": id_, "parent": parent, "start_ns": start, "end_ns": end}

    def test_children_are_subtracted(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 30),
                 self.span(2, 0, 40, 90), self.span(3, 2, 50, 60)]
        st = bm.self_times(spans)
        self.assertEqual(st, {0: 30, 1: 20, 2: 40, 3: 10})
        # self times of a tree add up to the root's duration
        self.assertEqual(sum(st.values()), 100)

    def test_overlapping_and_overhanging_children_count_once(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 50),
                 self.span(2, 0, 30, 70), self.span(3, 0, 90, 120)]
        self.assertEqual(bm.self_times(spans)[0], 100 - 60 - 10)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(bm.self_times([self.span(7, -1, 5, 9)]), {7: 4})


class Ratios(unittest.TestCase):
    def test_yield(self):
        self.assertEqual(bm.ratio(250, 1000), 0.25)
        self.assertEqual(bm.ratio(0, 1000), 0.0)

    def test_nothing_to_divide_by(self):
        self.assertEqual(bm.ratio(5, 0), 0.0)


class BoundCheck(unittest.TestCase):
    def test_lower_is_better(self):
        self.assertAlmostEqual(bm.worse_by(10.0, 11.0, "lower"), 0.1)
        self.assertTrue(bm.within_bound([10.0, 10.0, 10.0], [11.0, 11.0, 11.0], 0.1, "lower"))
        self.assertFalse(bm.within_bound([10.0], [11.5], 0.1, "lower"))
        self.assertTrue(bm.within_bound([10.0], [2.0], 0.1, "lower"))

    def test_higher_is_better(self):
        self.assertAlmostEqual(bm.worse_by(0.8, 0.76, "higher"), 0.05)
        self.assertTrue(bm.within_bound([0.8], [0.77], 0.05, "higher"))
        self.assertFalse(bm.within_bound([0.8], [0.7], 0.05, "higher"))
        self.assertTrue(bm.within_bound([0.8], [0.95], 0.05, "higher"))

    def test_medians_are_compared(self):
        parent = [10.0, 10.0, 100.0]   # one outlier does not move the median
        self.assertTrue(bm.within_bound(parent, [10.5, 10.5, 1.0], 0.1, "lower"))

    def test_zero_parent(self):
        self.assertEqual(bm.worse_by(0.0, 0.0, "lower"), 0.0)
        self.assertFalse(bm.within_bound([0.0], [1.0], 0.25, "lower"))


if __name__ == "__main__":
    unittest.main()
