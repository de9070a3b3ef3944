"""Tests of the seeded input generator: one seed gives byte-identical files;
another seed changes row identities but keeps the inputs' shape.

    python3 -m pytest perfbench/tests
"""
import collections
import glob
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402


def _files(d):
    return sorted(os.path.basename(p) for p in glob.glob(f"{d}/*.parquet"))


def _bytes(path):
    with open(path, "rb") as f:
        return f.read()


class Generator(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.out = {}
        for w in gen.WORKLOADS:
            for seed, tag in ((1, "a"), (1, "b"), (2, "c")):
                d = os.path.join(cls.tmp.name, f"{w}-{tag}")
                gen.generate(w, seed, d)
                cls.out[w, tag] = d

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_is_byte_identical(self):
        for w in gen.WORKLOADS:
            a, b = self.out[w, "a"], self.out[w, "b"]
            self.assertEqual(_files(a), _files(b))
            for f in _files(a):
                self.assertEqual(_bytes(f"{a}/{f}"), _bytes(f"{b}/{f}"),
                                 f"{w}/{f}")

    def test_other_seed_changes_identities_keeps_counts(self):
        for w in gen.WORKLOADS:
            a, c = self.out[w, "a"], self.out[w, "c"]
            self.assertEqual(_files(a), _files(c))
            changed = False
            for f in _files(a):
                ta, tc = pq.read_table(f"{a}/{f}"), pq.read_table(f"{c}/{f}")
                self.assertEqual(ta.num_rows, tc.num_rows, f"{w}/{f}")
                self.assertEqual(ta.schema, tc.schema, f"{w}/{f}")
                changed |= ta.to_pylist() != tc.to_pylist()
            self.assertTrue(changed, w)

    def test_duplicate_share_and_key_skew_are_kept(self):
        def shape(d):
            """Batch rows whose key is already present; and the sorted
            per-key frequency profile of the ground codes."""
            def keys(f):
                return [tuple(r.values()) for r in pq.read_table(
                    f"{d}/{f}", columns=["survey_ID", "grid_point",
                                         "point"]).to_pylist()]
            seen = set(keys("ground.parquet"))
            dups = sum(k in seen for k in keys("batch.parquet"))
            codes = pq.read_table(f"{d}/ground.parquet").column(
                "intercept_ground_code").to_pylist()
            return dups, sorted(collections.Counter(codes).values())

        a, c = self.out["warehouse_etl", "a"], self.out["warehouse_etl", "c"]
        self.assertEqual(shape(a), shape(c))
        dups, _ = shape(a)
        self.assertEqual(dups, int(gen.ETL_BATCH_ROWS * gen.ETL_DUP_SHARE))

    def test_text_duplicates_are_kept(self):
        def dup_profile(d):
            texts = pq.read_table(f"{d}/documents.parquet").column(
                "text").to_pylist()
            return sorted(collections.Counter(texts).values())

        self.assertEqual(dup_profile(self.out["corpus_kernels", "a"]),
                         dup_profile(self.out["corpus_kernels", "c"]))


if __name__ == "__main__":
    unittest.main()
