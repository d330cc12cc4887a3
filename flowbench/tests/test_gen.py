"""Generator determinism: the same seed gives byte-identical parquet, another
seed gives other keys and texts, and the stated shares are recorded.

Run from the repository root: python3 -m unittest discover -s flowbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402

SMALL = {"spec_cycle": {"orders": 3_000}, "ingest_chain": {"docs": 700},
         "release_build": {"docs": 700, "vecs": 300}}


def digests(d):
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            with open(os.path.join(d, f), "rb") as fh:
                out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def gen(self, workload, seed, tag):
        d = os.path.join(self.tmp.name, f"{workload}-{seed}-{tag}")
        return d, gen.generate(seed, d, SMALL[workload])

    def test_same_seed_gives_identical_bytes(self):
        for w in SMALL:
            a, ma = self.gen(w, 7, "a")
            b, mb = self.gen(w, 7, "b")
            self.assertTrue(digests(a))
            self.assertEqual(digests(a), digests(b), w)
            self.assertEqual(ma, mb, w)

    def test_other_seed_gives_other_keys_and_texts(self):
        a, _ = self.gen("spec_cycle", 1, "a")
        b, _ = self.gen("spec_cycle", 2, "b")
        ka = pq.read_table(os.path.join(a, "orders.parquet"))["o_orderkey"].to_pylist()
        kb = pq.read_table(os.path.join(b, "orders.parquet"))["o_orderkey"].to_pylist()
        self.assertNotEqual(ka, kb)
        a, _ = self.gen("release_build", 1, "a")
        b, _ = self.gen("release_build", 2, "b")
        for table, key, value in (("documents", "doc_id", "text"),
                                  ("embeddings", "vec_id", "embedding")):
            ta = pq.read_table(os.path.join(a, f"{table}.parquet"))
            tb = pq.read_table(os.path.join(b, f"{table}.parquet"))
            self.assertNotEqual(ta[key].to_pylist(), tb[key].to_pylist())
            self.assertNotEqual(ta[value].to_pylist(), tb[value].to_pylist())

    def test_shares_and_counts_are_recorded(self):
        d, m = self.gen("release_build", 3, "a")
        self.assertEqual(m["rows"], {"documents": 700, "embeddings": 300})
        for k, v in m["stated_shares"].items():
            self.assertAlmostEqual(m["shares"][k], v, delta=0.01, msg=k)
        docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pylist()
        texts = [r["text"] for r in docs]
        # the exact duplicates are really there
        self.assertGreaterEqual(len(texts) - len(set(texts)),
                                round(gen.SHARES["exact_dup"] * 700))
        self.assertEqual(sum(m["day_batches"]),
                         sum(1 for r in docs if r["doc_id"] % 10 != 0))
        # every seed gives the same split sizes
        _, m2 = self.gen("release_build", 4, "b")
        self.assertEqual(m["day_batches"], m2["day_batches"])
        self.assertEqual(m["day_batches"], [90] * 7)
        self.assertTrue(all(r["n_chars"] == len(r["text"]) for r in docs))

    def test_spec_expectations_follow_the_keys(self):
        _, m = self.gen("spec_cycle", 4, "a")
        e = m["expect"]
        self.assertEqual(sum(e["ai_status"].values()), 3_000)
        self.assertEqual(sum(e["ledger_status"].values()), 3_000)
        self.assertEqual(sum(r[0] for r in e["rollup"].values()), 3_000)
        self.assertEqual(set(e["error_types"]), {
            "jsonl_format_error", "model_mismatch", "custom_id_not_found"})


if __name__ == "__main__":
    unittest.main()
