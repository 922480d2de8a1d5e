import math
import random
import unittest

from bench import stats


class TailRule(unittest.TestCase):
    def test_percentile_leaves_ten_samples_beyond(self):
        for n in (11, 12, 33, 66, 100, 1000):
            _, pct = stats.tail([float(i) for i in range(n)])
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)
            self.assertAlmostEqual(n * (1 - pct / 100), 10.0)

    def test_highest_such_percentile_sits_at_its_rank(self):
        # the (n-10)-th smallest of 0..n-1 is n-11; the estimate is close
        for n in (50, 200):
            v, pct = stats.tail(list(range(n, 0, -1)))
            self.assertEqual(pct, 100.0 * (n - 10) / n)
            self.assertLess(abs(v - (n - 10)), 1.0)

    def test_order_free(self):
        xs = [0.3, 0.1, 0.9, 0.5, 0.2, 0.8, 0.7, 0.4, 0.6, 1.0, 1.1, 1.2]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_too_few_samples_report_the_median(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (stats.median([1.0, 2.0, 3.0]), 50.0))
        self.assertEqual(stats.tail([float(i) for i in range(10)])[1], 50.0)


class HarrellDavis(unittest.TestCase):
    def test_betainc_closed_forms(self):
        for x in (0.01, 0.3, 0.5, 0.77, 0.99):
            self.assertAlmostEqual(stats.betainc(1, 1, x), x, places=12)
            self.assertAlmostEqual(stats.betainc(3, 1, x), x ** 3, places=12)
            self.assertAlmostEqual(stats.betainc(1, 4, x), 1 - (1 - x) ** 4, places=12)
            self.assertAlmostEqual(stats.betainc(2.5, 7.25, x), 1 - stats.betainc(7.25, 2.5, 1 - x), places=12)

    def test_symmetric_sample_median(self):
        self.assertAlmostEqual(stats.median([1.0, 2.0, 3.0, 4.0, 5.0]), 3.0, places=12)
        self.assertAlmostEqual(stats.median([-2.0, -1.0, 1.0, 2.0]), 0.0, places=12)

    def test_constant_and_single_samples(self):
        self.assertAlmostEqual(stats.quantile([0.25] * 17, 0.9), 0.25, places=12)
        self.assertEqual(stats.quantile([4.0], 0.3), 4.0)

    def test_tracks_the_population_quantile(self):
        rng = random.Random(3)
        xs = [rng.expovariate(1.0) for _ in range(4000)]
        self.assertAlmostEqual(stats.median(xs), math.log(2), delta=0.05)
        self.assertAlmostEqual(stats.quantile(xs, 0.9), math.log(10), delta=0.15)

    def test_steadier_than_one_order_statistic_on_a_gapped_sample(self):
        # a thin middle: the sample median jumps between 1 and 2 when one
        # value crosses; the estimate moves by a fraction of that
        lo, hi = [1.0] * 10 + [2.0] * 10 + [1.5], [1.0] * 10 + [2.0] * 11
        self.assertLess(abs(stats.median(lo) - stats.median(hi)), 0.2)


if __name__ == "__main__":
    unittest.main()
