import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))

import gen  # noqa: E402


class GeneratorDeterminismTest(unittest.TestCase):
    """The same seed must give identical rows; another seed other rows."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="graftbench-gen-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def digest(self, workload, seed):
        out = os.path.join(self.tmp, f"{workload}-{seed}-{len(os.listdir(self.tmp))}")
        gen.GENERATORS[workload](out, seed, "smoke")
        return gen.tree_digest(out)

    def test_every_workload_is_a_function_of_the_seed(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                a, b = self.digest(w, 7), self.digest(w, 7)
                self.assertEqual(a, b)
                self.assertNotEqual(a, self.digest(w, 8))

    def test_ingest_batches_have_unique_keys_and_half_updates(self):
        import pyarrow.parquet as pq
        out = os.path.join(self.tmp, "ingest")
        gen.gen_ingest(out, 3, "smoke")
        size = gen.SIZES["smoke"]
        seen = set(range(1, size["orders"] + 1))
        for b in range(1, size["batches"] + 1):
            keys = pq.read_table(os.path.join(out, "batches", str(b), "orders")) \
                .column("o_orderkey").to_pylist()
            self.assertEqual(len(keys), len(set(keys)))
            self.assertEqual(sum(k in seen for k in keys), size["d_orders"] // 2)
            seen.update(keys)
        with open(os.path.join(out, "batches.tsv")) as f:
            rows = [line.split("\t") for line in f]
        self.assertEqual(len(rows), size["batches"] + 1)
        self.assertEqual(int(rows[1][1]), size["d_orders"])

    def test_corpus_copies_keep_vocabularies_disjoint(self):
        import pyarrow.parquet as pq
        out = os.path.join(self.tmp, "corpus")
        gen.gen_corpus(out, 3, "smoke")
        docs = pq.read_table(os.path.join(out, "documents.parquet")).to_pylist()
        n = gen.SIZES["smoke"]["docs"]
        self.assertEqual(len(docs), n * gen.SIZES["smoke"]["copies"])
        first = {w for d in docs[:n] for w in d["text"].split()}
        second = {w for d in docs[n:] for w in d["text"].split()}
        self.assertFalse(first & second)
        self.assertTrue(all(d["n_chars"] == len(d["text"]) for d in docs))


if __name__ == "__main__":
    unittest.main()
