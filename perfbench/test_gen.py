#!/usr/bin/env python3
"""Seed plumbing of the input generator.

    python3 perfbench/test_gen.py

The same seed must give byte-identical inputs (requests, documents,
vectors, query order); a different seed must give different ones, while
the fixed corpus stays the same.
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def digests(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(
                    fh.read()).hexdigest()
    return out


class SeedTest(unittest.TestCase):
    def gen(self, seed, workload):
        d = tempfile.mkdtemp(dir=self.tmp.name)
        gen.generate(d, seed, workload)
        return digests(d)

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def test_serve_inputs(self):
        a, b, c = self.gen(5, "serve"), self.gen(5, "serve"), self.gen(6, "serve")
        self.assertEqual(a, b)
        for f in ("requests.jsonl", "store_docs.jsonl", "ingest_batches.jsonl",
                  "refresh_vecs.parquet"):
            self.assertIn(f, a)
            self.assertNotEqual(a[f], c[f], f)
        self.assertIn("traffic.json", a)
        corpus = [f for f in a if f.startswith("corpus/")]
        self.assertTrue(corpus)
        for f in corpus:
            self.assertEqual(a[f], c[f], f)

    def test_analytics_order(self):
        a, b = self.gen(5, "analytics"), self.gen(5, "analytics")
        self.assertEqual(a, b)
        orders = {self.gen(s, "analytics")["query_order.json"]
                  for s in range(6)}
        self.assertGreater(len(orders), 1)


if __name__ == "__main__":
    unittest.main()
