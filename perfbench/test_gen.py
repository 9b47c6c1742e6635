#!/usr/bin/env python3
"""Checks the seeded input generator.

Run from the root of a checkout: python3 perfbench/test_gen.py
"""
import hashlib
import os
import shutil
import sys
import unittest

sys.dont_write_bytecode = True
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
import gen  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(BENCH_DIR), ".bench_build", "perfbench", "test-gen")


def digests(d, report):
    out = {}
    for t in report:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
            out[t] = hashlib.sha256(f.read()).hexdigest()
    return out


class GenTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def run_gen(self, workload, seed, name):
        d = os.path.join(SCRATCH, name)
        return d, gen.generate(workload, seed, d)

    def test_row_counts_identical_across_seeds(self):
        for w in gen.WORKLOADS:
            counts = [{t: r["rows"] for t, r in self.run_gen(w, s, f"{w}-{s}")[1].items()}
                      for s in (1, 2, 7)]
            self.assertEqual(counts[0], counts[1], w)
            self.assertEqual(counts[0], counts[2], w)
            self.assertEqual(set(counts[0]), set(gen.TABLES[w]))

    def test_same_seed_regenerates_identical_bytes(self):
        for w in gen.WORKLOADS:
            a, ra = self.run_gen(w, 5, f"{w}-a")
            b, rb = self.run_gen(w, 5, f"{w}-b")
            self.assertEqual(digests(a, ra), digests(b, rb), w)

    def test_seeds_change_the_inputs(self):
        for w in gen.WORKLOADS:
            a, ra = self.run_gen(w, 1, f"{w}-1")
            b, rb = self.run_gen(w, 2, f"{w}-2")
            self.assertNotEqual(digests(a, ra), digests(b, rb), w)


if __name__ == "__main__":
    unittest.main()
