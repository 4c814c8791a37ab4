#!/usr/bin/env python3
"""Self-tests of the benchmark harness: the tail-percentile rule, the
stream's per-row lag, span self time, and generator determinism per seed.

  python3 perfbench/selftest.py
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import gen, metrics, stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))              # 100 samples
        value, pct, beyond, n = stats.tail(xs)
        self.assertEqual((value, pct, beyond, n), (90, 90.0, 10, 100))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5    # 25 samples
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        value, pct, beyond, _ = stats.tail(xs)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(1 for x in xs if x > value) <= beyond, True)

    def test_eleven_samples(self):
        value, pct, beyond, n = stats.tail(list(range(11)))
        self.assertEqual((value, beyond, n), (0, 10, 11))

    def test_too_few_samples_reports_max_with_zero_beyond(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0, 3))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0, 0))

    def test_median_tail_over_groups(self):
        groups = [list(range(100)), list(range(100, 200)), list(range(200, 300)), [1e9] * 5]
        # the five-sample group is too small for the rule and is left out
        self.assertEqual(stats.median_tail(groups), (189, 90.0, 3))
        self.assertEqual(stats.median_tail([[1.0]]), (0.0, 0.0, 0))

    def test_quartile_spread(self):
        q1, med, q3, spread = stats.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual(med, 5.5)
        self.assertAlmostEqual(spread, (q3 - q1) / 5.5)


class StreamLag(unittest.TestCase):
    def test_rows_follow_batches_in_feeding_order(self):
        st = {
            "rungs": [
                {"phase": "setup", "rate": 1000.0, "start": 0.0, "fed": 4},
                {"phase": "untraced", "rate": 500.0, "start": 10.0, "fed": 3},
                {"phase": "untraced", "rate": 1000.0, "start": 16.0, "fed": 2},
            ],
            "batches": [   # out of order on purpose
                {"batch": 1, "commit": 30.0, "rows_in": 5},
                {"batch": 0, "commit": 20.0, "rows_in": 3},
                {"batch": 2, "commit": 40.0, "rows_in": 1},
            ],
        }
        # the lag rung's rows are rows 4..6, created at 10, 12 and 14 ms;
        # batch 0 reads rows 0..2, batch 1 rows 3..7 and batch 2 row 8
        self.assertEqual(metrics.stream_lags(st, "untraced"), [[20.0, 18.0, 16.0]])
        self.assertEqual(metrics.stream_lags(st, "traced"), [])


class SelfTime(unittest.TestCase):
    def test_children_and_overlap(self):
        spans = [
            {"id": 0, "parent": None, "start": 0, "end": 100},
            {"id": 1, "parent": 0, "start": 10, "end": 40},
            {"id": 2, "parent": 0, "start": 30, "end": 50},   # overlaps 1
            {"id": 3, "parent": 1, "start": 15, "end": 20},
            {"id": 4, "parent": 0, "start": 90, "end": 120},  # runs past the parent
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 100 - 40 - 10)     # children cover 10..50 and 90..100
        self.assertEqual(st[1], 30 - 5)
        self.assertEqual(st[2], 20)
        self.assertEqual(st[3], 5)
        self.assertEqual(st[4], 30)

    def test_leaf_is_its_duration(self):
        self.assertEqual(stats.self_times([{"id": 7, "parent": None, "start": 2, "end": 9}]), {7: 7})


class Determinism(unittest.TestCase):
    def _hash(self, tables, files=None):
        with tempfile.TemporaryDirectory() as d:
            return gen.write_tables(tables, d, files)

    def test_tables_same_seed_same_bytes(self):
        a = self._hash(gen.tpch_tables(7))
        self.assertEqual(a, self._hash(gen.tpch_tables(7)))
        self.assertNotEqual(a, self._hash(gen.tpch_tables(8)))

    def test_corpus_same_seed_same_bytes_and_truth(self):
        t1, truth1 = gen.corpus(3, 1)
        t2, truth2 = gen.corpus(3, 1)
        self.assertEqual(truth1, truth2)
        parts = {"documents": 4, "embeddings": 2}
        self.assertEqual(self._hash(t1, parts), self._hash(t2, parts))
        self.assertNotEqual(self._hash(t1, parts), self._hash(gen.corpus(4, 1)[0], parts))

    def test_planted_pairs_keep_out_of_the_threshold_band(self):
        tables, truth = gen.corpus(5, 1)
        texts = tables["documents"].column("text").to_pylist()
        js = [j for _, _, j in truth["planted_pairs"]]
        self.assertTrue(any(j >= 0.8 for j in js) and any(j < 0.8 for j in js))
        for a, b, j in truth["planted_pairs"]:
            self.assertFalse(gen.BELOW[1] < j < gen.ABOVE[0])
            exact = gen.jaccard(gen.shingles(texts[a].split(" ")), gen.shingles(texts[b].split(" ")))
            self.assertAlmostEqual(exact, j, places=6)

    def test_planted_neighbour_is_nearest(self):
        tables, truth = gen.corpus(6, 1)
        import numpy as np
        emb = np.array(tables["embeddings"].column("embedding").to_pylist())
        for q, t in truth["planted_neighbors"][:16]:
            cos = emb @ emb[q]
            cos[q] = -2
            self.assertEqual(int(np.argmax(cos)), t)


if __name__ == "__main__":
    unittest.main(verbosity=1)
