"""Tests for the benchmark's input generator and ground-truth check.

Run: python3 -m unittest discover -s wagebench -p 'test_*.py'
"""
import copy
import hashlib
import json
import tempfile
import unittest
from pathlib import Path

import gen


def digests(d: Path) -> dict:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(d.iterdir())}


def generate(seed: int) -> tuple:
    with tempfile.TemporaryDirectory() as t:
        out = Path(t)
        gen.tables(seed, out, 0.001)
        truth = gen.pipeline(seed, out)
        return digests(out), truth


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.a1, cls.truth1 = generate(1)
        cls.a2, _ = generate(1)
        cls.b, _ = generate(2)

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(self.a1, self.a2)
        self.assertIn("truth.json", self.a1)
        self.assertEqual(len(self.a1), 13)  # 10 tables, html, xlsx, truth

    def test_different_seed_gives_different_inputs(self):
        differ = [n for n in self.a1 if self.a1[n] != self.b[n]]
        # region and nation are fixed dimension tables; all else moves
        self.assertEqual(sorted(set(self.a1) - set(differ)),
                         ["nation.parquet", "region.parquet"])

    def test_truth_shape(self):
        t = self.truth1
        self.assertEqual(len(t["oews"]), gen.OEWS_ROWS)
        self.assertEqual(len(t["onet"]), gen.ONET_CODES * gen.ELEMENTS * 2)
        self.assertEqual(t["avg_view_rows"], gen.ONET_SPLIT)
        self.assertEqual(len(t["top10"]), 10)
        wages = [w for _, w in t["top10"]]
        self.assertEqual(wages, sorted(wages, reverse=True))


class CheckTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.truth = generate(3)[1]
        # a result exactly as the pipeline should produce it
        cls.good = {k: copy.deepcopy(cls.truth[k]) for k in
                    ("oews", "onet", "join_rows", "avg_view_rows", "top10")}

    def test_exact_result_passes(self):
        self.assertEqual(gen.check_pipeline(self.truth, self.good), [])

    def test_result_order_does_not_matter(self):
        got = copy.deepcopy(self.good)
        got["oews"].reverse()
        got["onet"].reverse()
        self.assertEqual(gen.check_pipeline(self.truth, got), [])

    def test_one_corrupted_cell_is_rejected(self):
        cols = self.truth["oews_columns"]
        for table, row, col, value in (
                ("oews", 17, cols.index("hourly_mean_wage"), 1.5),
                ("oews", 3, cols.index("occupation"), "Chief, Executives"),
                ("onet", 999, self.truth["onet_columns"].index("date"),
                 "1999-01-01 00:00:00"),
                ("onet", 5, self.truth["onet_columns"].index("n"), None)):
            got = copy.deepcopy(self.good)
            got[table][row][col] = value
            bad = gen.check_pipeline(self.truth, got)
            self.assertEqual(len(bad), 1, (table, col, bad))
            self.assertTrue(bad[0].startswith(table), bad)

    def test_wrong_counts_and_topk_are_rejected(self):
        for key, value in (("join_rows", self.good["join_rows"] + 1),
                           ("top10", self.good["top10"][::-1])):
            got = dict(self.good, **{key: value})
            self.assertEqual(len(gen.check_pipeline(self.truth, got)), 1, key)

    def test_truth_round_trips_through_json(self):
        self.assertEqual(json.loads(json.dumps(self.truth)), self.truth)


if __name__ == "__main__":
    unittest.main()
