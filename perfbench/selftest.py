"""Self-test of the benchmark's own arithmetic (no Spark needed).

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class TrendCheck(unittest.TestCase):
    def test_flat_noise_is_steady(self):
        xs = [2.0, 2.1, 1.95, 2.05, 2.0, 1.98, 2.02, 2.07]
        self.assertTrue(stats.is_steady(xs))

    def test_falling_passes_are_unsteady(self):
        xs = [3.0, 2.8, 2.6, 2.5, 2.4, 2.3, 2.2, 2.1]
        self.assertLess(stats.drift(xs), -0.10)
        self.assertFalse(stats.is_steady(xs))

    def test_small_trend_is_tolerated(self):
        xs = [2.00, 2.01, 2.02, 2.03, 2.04, 2.05, 2.06, 2.07]
        self.assertTrue(stats.is_steady(xs))

    def test_one_outlier_pass_is_not_a_trend(self):
        xs = [2.0, 2.02, 1.98, 3.5, 2.01, 1.99, 2.0]
        self.assertTrue(stats.is_steady(xs))

    def test_few_falling_passes_are_unsteady(self):
        self.assertFalse(stats.is_steady([2.0, 1.7]))
        self.assertFalse(stats.is_steady([2.4, 2.2, 2.0]))
        self.assertFalse(stats.is_steady([3.0, 2.9, 2.7, 2.6]))

    def test_few_flat_passes_are_steady(self):
        self.assertTrue(stats.is_steady([2.0, 2.1]))
        self.assertTrue(stats.is_steady([2.0, 2.1, 1.95]))

    def test_one_pass_has_no_trend(self):
        self.assertEqual(stats.drift([2.0]), 0.0)
        self.assertTrue(stats.is_steady([2.0]))

    def test_theil_sen_drift(self):
        self.assertAlmostEqual(stats.drift([1.0, 2.0, 3.0]), 2.0 / 2.0)


class ArchiveSize(unittest.TestCase):
    def test_formula(self):
        # header 5 + three records: 9+100, 9+0 (fingerprint), 9+50
        self.assertEqual(stats.ddp_bytes(3, 150), 5 + 109 + 9 + 59)

    def test_empty_archive_is_its_header(self):
        self.assertEqual(stats.ddp_bytes(0, 0), 5)


class Inputs(unittest.TestCase):
    def test_same_seed_same_tables(self):
        try:
            import sfgen
        except ImportError as e:  # pyarrow missing
            self.skipTest(str(e))
        a, b, c = sfgen.tables(7), sfgen.tables(7), sfgen.tables(8)
        self.assertTrue(all(a[k].equals(b[k]) for k in a))
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

    def test_tables_written(self):
        import sfgen

        with tempfile.TemporaryDirectory() as d:
            sfgen.write(1, d)
            self.assertEqual(len(os.listdir(d)), 10)

    def test_corpus_shape_does_not_depend_on_the_seed(self):
        import corpus

        def shape(seed):
            blob = b"".join(corpus.files(seed, 8, 1 << 16, 4))
            blocks = [blob[i:i + corpus.BLOCK_BYTES]
                      for i in range(0, len(blob), corpus.BLOCK_BYTES)]
            first = {}
            return [first.setdefault(b, len(first)) for b in blocks]

        a, b = corpus.files(7, 8, 1 << 16, 4), corpus.files(8, 8, 1 << 16, 4)
        self.assertEqual(a, corpus.files(7, 8, 1 << 16, 4))
        self.assertNotEqual(a, b)
        self.assertEqual(shape(7), shape(8))
        self.assertEqual(len(set(shape(7))), 8)  # 32 blocks, each used 4 times


if __name__ == "__main__":
    unittest.main()
