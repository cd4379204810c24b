import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class TailTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.tail(range(1, 100), 0.9))  # 99 samples: 9.9 beyond
        self.assertEqual(stats.tail(range(1, 101), 0.9), 90)  # 100 samples: 10 beyond

    def test_nearest_rank_is_a_sample(self):
        xs = [float(x) for x in range(200, 0, -1)]
        self.assertEqual(stats.tail(xs, 0.9), 180.0)

    def test_highest_tail_leaves_ten_beyond(self):
        self.assertIsNone(stats.highest_tail(range(10)))
        self.assertEqual(stats.highest_tail(range(1, 41)), (0.75, 30))
        q, v = stats.highest_tail(range(1, 101))
        self.assertEqual((q, v), (0.9, stats.tail(range(1, 101), 0.9)))

    def test_lower_tail_needs_fewer_samples(self):
        self.assertEqual(stats.tail(range(1, 21), 0.5), 10)
        self.assertIsNone(stats.tail([], 0.5))


class FailedShareTest(unittest.TestCase):
    def test_share(self):
        self.assertEqual(stats.failed_share(0, 12), 0.0)
        self.assertAlmostEqual(stats.failed_share(3, 12), 0.25)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.failed_share(0, 0)


class MixTest(unittest.TestCase):
    def test_one_kind_is_the_median(self):
        self.assertEqual(stats.mix_weighted_median([("a", 1), ("a", 9), ("a", 2)]), 2)

    def test_kinds_weighted_by_share(self):
        samples = [("read", 1.0)] * 3 + [("read", 100.0)] + [("write", 10.0)] * 4
        # half reads (median 1), half writes (median 10); the read outlier is ignored
        self.assertAlmostEqual(stats.mix_weighted_median(samples), 5.5)


class SpreadTest(unittest.TestCase):
    def test_matches_quartiles_over_median(self):
        vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
        # exclusive quartiles 9.725 and 10.275 around a median of 10.0
        self.assertAlmostEqual(stats.spread(vals), 0.055, places=9)

    def test_ratio_of_medians(self):
        self.assertAlmostEqual(stats.ratio_of_medians([11, 11], [10, 10]), 0.1)
        self.assertIsNone(stats.ratio_of_medians([], [1]))


if __name__ == "__main__":
    unittest.main()
