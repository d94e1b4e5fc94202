"""Checks of the seeded drop generator.

    python3 -m unittest perfbench/test_drop.py
"""
import collections
import filecmp
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import drop  # noqa: E402


def rows(path):
    return [repr(sorted(r.items())) for r in pq.read_table(path).to_pylist()]


class DropTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.a1 = os.path.join(cls.tmp.name, "a1")
        cls.a2 = os.path.join(cls.tmp.name, "a2")
        cls.b = os.path.join(cls.tmp.name, "b")
        drop.make_drop(7, cls.a1)
        drop.make_drop(7, cls.a2)
        drop.make_drop(8, cls.b)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_same_bytes(self):
        for t in drop.TABLES:
            f = f"{t}.parquet"
            self.assertTrue(filecmp.cmp(os.path.join(self.a1, f),
                                        os.path.join(self.a2, f), shallow=False), t)

    def test_other_seed_same_rows_other_order(self):
        for t in drop.TABLES:
            f = f"{t}.parquet"
            ra, rb = rows(os.path.join(self.a1, f)), rows(os.path.join(self.b, f))
            base = rows(os.path.join(drop.BASE, f))
            self.assertEqual(collections.Counter(ra), collections.Counter(base), t)
            self.assertEqual(collections.Counter(rb), collections.Counter(base), t)
            if len(base) > 2:
                self.assertNotEqual(ra, rb, t)

    def test_schema_kept(self):
        for t in drop.TABLES:
            f = f"{t}.parquet"
            src = pq.ParquetFile(os.path.join(drop.BASE, f))
            out = pq.ParquetFile(os.path.join(self.b, f))
            self.assertEqual(src.schema_arrow, out.schema_arrow, t)
            self.assertTrue(src.schema.equals(out.schema), t)


if __name__ == "__main__":
    unittest.main()
