"""Seeded inputs and the order independence of the output comparison.
Run: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import tempfile
import unittest

import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from benchlib import inputs, oracle  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


class SeededInputs(unittest.TestCase):
    def test_keep_mask_is_seeded_and_exactly_sized(self):
        keys = list(range(1000))
        a = inputs.keep_mask(keys, 7)
        self.assertEqual(a.sum(), 900)
        self.assertTrue((a == inputs.keep_mask(keys, 7)).all())
        self.assertFalse((a == inputs.keep_mask(keys, 8)).all())

    def test_seed_zero_is_unchanged_and_seeds_repeat(self):
        with tempfile.TemporaryDirectory() as d:
            zero = inputs.generate(os.path.join(d, "z"), 0)
            one = inputs.generate(os.path.join(d, "a"), 1)
            again = inputs.generate(os.path.join(d, "b"), 1)
            for t in inputs.TABLES:
                base = pq.read_table(os.path.join(inputs.BASE, f"{t}.parquet"))
                self.assertEqual(zero[t], base.num_rows)
                self.assertTrue(pq.read_table(os.path.join(d, "a", f"{t}.parquet")).equals(
                    pq.read_table(os.path.join(d, "b", f"{t}.parquet"))))
            self.assertEqual(one, again)
            self.assertEqual(one["embeddings"], int(0.9 * zero["embeddings"]))
            self.assertEqual(one["documents"], zero["documents"])
            docs = pq.read_table(os.path.join(d, "a", "documents.parquet"))
            base_docs = pq.read_table(os.path.join(inputs.BASE, "documents.parquet"))
            self.assertNotEqual(docs["doc_id"].to_pylist(), base_docs["doc_id"].to_pylist())
            self.assertEqual(sorted(docs["doc_id"].to_pylist()), sorted(base_docs["doc_id"].to_pylist()))
            self.assertEqual(one["nation"], zero["nation"])
            self.assertEqual(one["events"], int(0.9 * zero["events"]))

    def test_op_order(self):
        ops = ["a", "b", "c", "d"]
        self.assertEqual(inputs.op_order(ops, 0), ops)
        self.assertEqual(inputs.op_order(ops, 3), inputs.op_order(ops, 3))
        self.assertEqual(sorted(inputs.op_order(ops, 3)), ops)


class OrderIndependence(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        frame_to_rows = oracle._frame_to_rows(ROOT)
        df = pd.DataFrame({"b": [3, 1, 2, 2], "a": ["x", "y", None, "z"],
                           "c": [0.5, 1.25, 2.0, 2.0]})
        shuffled = df.iloc[[2, 0, 3, 1]][["c", "a", "b"]]
        self.assertEqual(frame_to_rows(df), frame_to_rows(shuffled))
        changed = df.assign(c=[0.5, 1.25, 2.0, 2.5])
        self.assertNotEqual(frame_to_rows(df), frame_to_rows(changed))

    def test_check_reports_exact_and_mismatch(self):
        with tempfile.TemporaryDirectory() as d:
            inp = os.path.join(d, "in")
            inputs.generate(inp, 0)
            out = os.path.join(d, "out", "nations")
            os.makedirs(out)
            nation = pq.read_table(os.path.join(inp, "nation.parquet"))
            pq.write_table(nation.select(["n_name", "n_nationkey"])
                           .take(list(reversed(range(nation.num_rows)))),
                           os.path.join(out, "part-0.parquet"))
            ok = oracle.check(ROOT, inp, os.path.join(d, "out"),
                              {"nations": "SELECT n_nationkey, n_name FROM nation"},
                              os.path.join(d, "spill"))
            self.assertEqual(ok, {"nations": None})
            bad = oracle.check(ROOT, inp, os.path.join(d, "out"),
                               {"nations": "SELECT n_nationkey, n_name FROM nation LIMIT 4",
                                "missing": "SELECT 1 AS x"},
                               os.path.join(d, "spill"))
            self.assertEqual(bad["nations"], f"rows differ: {nation.num_rows} vs 4")
            self.assertEqual(bad["missing"], "no output written")


if __name__ == "__main__":
    unittest.main()
