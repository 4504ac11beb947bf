"""Unit tests for the benchmark's summary statistics.

    python3 -m unittest discover -s perfbench/tests
"""
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import stats  # noqa: E402


class MedianQuartiles(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_quartiles_match_the_acceptance_rule(self):
        xs = [float(x) for x in range(1, 11)]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual(q2, 5.5)
        self.assertLess(q1, q2)
        self.assertLess(q2, q3)


class Tail(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = [float(x) for x in range(1, 41)]  # 40 samples
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 40)
        self.assertEqual(value, 30.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(pct, 75.0)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        value, pct, n = stats.tail(xs)
        self.assertEqual(value, 2.0)
        self.assertAlmostEqual(pct, 100.0 * 2 / 12)

    def test_too_few_samples_falls_back_to_the_maximum(self):
        self.assertEqual(stats.tail([1.0, 3.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail([float(x) for x in range(10)]), (9.0, 100.0, 10))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.tail([])


if __name__ == "__main__":
    unittest.main()
