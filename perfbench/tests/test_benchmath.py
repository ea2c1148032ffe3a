import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from benchmath import (TooFewSamples, covered, driver_gap, fail_ratio, percentile,  # noqa: E402
                       self_time, union)


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(percentile(xs, 0.9), 90)
        with self.assertRaises(TooFewSamples):
            percentile(xs[:99], 0.9)

    def test_p50_needs_twenty_samples(self):
        self.assertEqual(percentile(range(20), 0.5), 9)
        with self.assertRaises(TooFewSamples):
            percentile(range(19), 0.5)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0] * 40
        self.assertEqual(percentile(xs, 0.5), 3.0)
        self.assertEqual(percentile(xs, 0.9), 5.0)


class FailRatio(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(fail_ratio(10, 0), 0.0)
        self.assertEqual(fail_ratio(8, 2), 0.25)

    def test_rejects_impossible_counts(self):
        for attempted, failed in ((0, 0), (3, 4), (3, -1)):
            with self.assertRaises(ValueError):
                fail_ratio(attempted, failed)


class Spans(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(union([(5, 7), (0, 2), (1, 3), (3, 4), (9, 9)]), [(0, 4), (5, 7)])

    def test_self_time_subtracts_covered_part_once(self):
        # children overlap each other and stick out of the parent
        self.assertEqual(covered((10, 20), [(8, 12), (11, 14), (18, 25)]), 6)
        self.assertEqual(self_time((10, 20), [(8, 12), (11, 14), (18, 25)]), 4)

    def test_self_time_without_children(self):
        self.assertEqual(self_time((3, 7.5), []), 4.5)

    def test_driver_gap_with_overlapping_jobs(self):
        op = (0, 100)
        jobs = [(10, 40), (20, 50), (45, 60), (80, 90)]
        # jobs cover 10..60 and 80..90: 60 of 100
        self.assertEqual(driver_gap(op, jobs), 40)

    def test_driver_gap_all_covered(self):
        self.assertEqual(driver_gap((0, 10), [(0, 6), (5, 10)]), 0)


if __name__ == "__main__":
    unittest.main()
