#!/usr/bin/env python3
"""Tests of the seeded input generator.

Run: python3 perfbench/test_gen.py
"""
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


class GenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = os.path.join(cls.tmp.name, name)
            gen.generate(seed, d)
            cls.dirs[name] = d

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_identical_files(self):
        self.assertEqual(gen.digests(self.dirs["a"]),
                         gen.digests(self.dirs["b"]))

    def test_other_seed_changes_every_seeded_table(self):
        a, c = gen.digests(self.dirs["a"]), gen.digests(self.dirs["c"])
        self.assertEqual(sorted(a), sorted(c))
        fixed = {"region.parquet", "nation.parquet"}  # dimension tables
        for name in a:
            if name not in fixed:
                self.assertNotEqual(a[name], c[name], name)

    def test_planted_near_dups_are_written_beside_the_tables(self):
        docs = pq.read_table(os.path.join(self.dirs["a"], "documents.parquet"))
        planted = pq.read_table(
            os.path.join(self.dirs["a"], "planted_docs.parquet")).to_pylist()
        text = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        fams = {}
        for r in planted:
            fams.setdefault(r["family"], []).append(r["doc_id"])
        self.assertGreater(len(fams), 50)
        for ids in fams.values():
            self.assertGreaterEqual(len(ids), 2)
            base = text[min(ids)].split()
            for i in ids:
                # one token substituted per generation step
                diff = sum(x != y for x, y in zip(base, text[i].split()))
                self.assertLessEqual(diff, len(ids) - 1)

    def test_stream_plants_copies_of_earlier_items(self):
        s = pq.read_table(os.path.join(self.dirs["a"], "stream.parquet"))
        ids = s["item_id"].to_pylist()
        src = s["planted_of"].to_pylist()
        self.assertGreater(sum(1 for p in src if p >= 0), 10)
        for i, p in zip(ids, src):
            if p >= 0:
                self.assertLess(p, i)


if __name__ == "__main__":
    unittest.main()
