"""Tests of the benchmark's input generator.

    python3 -m unittest perfbench/test_gen.py

Run from the repository root; scratch files go under .bench_build/.
"""
import filecmp
import os
import shutil
import sys
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

SF = 0.002
SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_build", "test_gen")


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        cls.dirs = [os.path.join(SCRATCH, tag) for tag in ("a", "b")]
        for d in cls.dirs:
            gen.generate(d, SF)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_sf_reproduces_the_files(self):
        names = [f"{t}.parquet" for t in gen.TABLES]
        self.assertEqual(sorted(os.listdir(self.dirs[0])), sorted(names))
        _, mismatch, errors = filecmp.cmpfiles(*self.dirs, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_tables_scale_with_sf(self):
        for t, rows in (("customer", 150000), ("lineitem", 6000000), ("documents", 50000)):
            n = pq.read_metadata(os.path.join(self.dirs[0], f"{t}.parquet")).num_rows
            self.assertEqual(n, int(rows * SF), t)


if __name__ == "__main__":
    unittest.main()
