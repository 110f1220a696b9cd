"""Quartile and spread math of steady.py; run with
`python3 -m unittest discover -s perfbench/tools`."""
import unittest

from steady import spread, seeds


class SpreadTest(unittest.TestCase):
    def test_quartiles_are_pythons_exclusive_method(self):
        # statistics.quantiles(range(1, 11), n=4) == [2.75, 5.5, 8.25]
        s, med = spread([float(x) for x in range(1, 11)])
        self.assertAlmostEqual(med, 5.5)
        self.assertAlmostEqual(s, (8.25 - 2.75) / 5.5)

    def test_order_does_not_matter(self):
        a = [3.5, 1.25, 9.0, 4.0, 2.0]
        self.assertEqual(spread(a), spread(sorted(a)))

    def test_identical_values_have_no_spread(self):
        self.assertEqual(spread([2.0] * 10), (0.0, 2.0))

    def test_seed_ranges(self):
        self.assertEqual(list(seeds("3-5")), [3, 4, 5])
        self.assertEqual(list(seeds("7")), [7])


if __name__ == "__main__":
    unittest.main()
