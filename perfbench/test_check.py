"""Tests of the output checks: a deliberately wrong output must count as
a failed operation. No JVM needed.

Run from the repository root: python3 -m unittest perfbench/test_check.py
"""
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import gen  # noqa: E402


def e1_record(expect, n):
    its = []
    for i in range(n):
        want = expect["per_iteration"][i]
        rows = want["matched"] + want["sg_only"] + want["dice_only"]
        its.append({"i": i, "ms": 1.0, "out": {
            "matched": want["matched"], "sg_only": want["sg_only"],
            "dice_only": want["dice_only"], "rows": rows, "run_id": f"run-{i:04d}"}})
    return {"iterations": its}


class E1Check(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.expect = gen.e1_daily(self.dir.name, seed=3, n_per_side=400)

    def tearDown(self):
        self.dir.cleanup()

    def test_planted_counts_pass(self):
        self.assertEqual(check.e1_daily(e1_record(self.expect, 3), self.expect), (3, []))

    def test_wrong_match_count_fails_one_op(self):
        rec = e1_record(self.expect, 3)
        rec["iterations"][1]["out"]["matched"] -= 1
        attempted, failures = check.e1_daily(rec, self.expect)
        self.assertEqual((attempted, len(failures)), (3, 1))
        self.assertIn("iteration 1", failures[0])

    def test_error_counts(self):
        rec = e1_record(self.expect, 2)
        rec["iterations"][0] = {"i": 0, "error": "boom"}
        self.assertEqual(len(check.e1_daily(rec, self.expect)[1]), 1)


class RegistryCheck(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.oracle = {"q": [{"a": 1, "b": 0.5}, {"a": 2, "b": None}]}
        os.makedirs(f"{self.dir.name}/q")

    def tearDown(self):
        self.dir.cleanup()

    def write(self, rows):
        pq.write_table(pa.Table.from_pylist(rows), f"{self.dir.name}/q/part-0.parquet")

    def record(self, rows, digests):
        return {"iterations": [{"i": i, "queries": {"q": {"rows": rows, "digest": d}}}
                               for i, d in enumerate(digests)]}

    def test_matching_result_passes(self):
        self.write(list(reversed(self.oracle["q"])))
        got = check.registry_leg(self.record(2, ["7", "7"]), self.oracle, self.dir.name)
        self.assertEqual(got, (2, []))

    def test_wrong_value_fails_one_op(self):
        self.write([{"a": 1, "b": 0.25}, {"a": 2, "b": None}])
        attempted, failures = check.registry_leg(self.record(2, ["7", "7"]), self.oracle,
                                                 self.dir.name)
        self.assertEqual((attempted, len(failures)), (2, 1))

    def test_changed_digest_fails_one_op(self):
        self.write(self.oracle["q"])
        attempted, failures = check.registry_leg(self.record(2, ["7", "8"]), self.oracle,
                                                 self.dir.name)
        self.assertEqual((attempted, len(failures)), (2, 1))


class CurationCheck(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        d = self.dir.name
        self.expect = {"docs": 3, "tokens": 30, "langs": {"en": 2, "fr": 1},
                       "stop_hits": 3, "exact_dup_groups": [[1, 3]], "queries": 1,
                       "top_k": 2}
        self.tables = {
            "quality": [{"doc_id": 1, "n_tokens": 10, "lang": "en", "stop_ratio": 0.1},
                        {"doc_id": 2, "n_tokens": 10, "lang": "fr", "stop_ratio": 0.1},
                        {"doc_id": 3, "n_tokens": 10, "lang": "en", "stop_ratio": 0.1}],
            "components": [{"id": 1, "comp": 1}, {"id": 3, "comp": 1}],
            "semdedup": [{"dropped_id": 5, "kept_id": 4, "sim": 0.99, "cell": 0}],
            "topk": [{"q_id": 1, "rank": 1, "n_id": 7, "sim": 0.9},
                     {"q_id": 1, "rank": 2, "n_id": 8, "sim": 0.8}]}
        for i in range(2):
            self.write(i, self.tables)

    def tearDown(self):
        self.dir.cleanup()

    def write(self, i, tables):
        for name, rows in tables.items():
            os.makedirs(f"{self.dir.name}/iter_{i}/{name}", exist_ok=True)
            pq.write_table(pa.Table.from_pylist(rows),
                           f"{self.dir.name}/iter_{i}/{name}/part-0.parquet")

    def record(self):
        return {"iterations": [{"i": i, "out": {"dir": f"{self.dir.name}/iter_{i}"}}
                               for i in range(2)]}

    def test_consistent_outputs_pass(self):
        self.assertEqual(check.curation(self.record(), self.expect, 0.97), (2, []))

    def test_split_duplicates_fail_one_op(self):
        self.write(1, dict(self.tables, components=[{"id": 1, "comp": 1}, {"id": 3, "comp": 3}]))
        attempted, failures = check.curation(self.record(), self.expect, 0.97)
        self.assertEqual((attempted, len(failures)), (2, 1))
        self.assertIn("iteration 1", failures[0])

    def test_unranked_topk_fails(self):
        bad = [{"q_id": 1, "rank": 1, "n_id": 7, "sim": 0.8},
               {"q_id": 1, "rank": 2, "n_id": 8, "sim": 0.9}]
        self.write(0, dict(self.tables, topk=bad))
        self.assertEqual(len(check.curation(self.record(), self.expect, 0.97)[1]), 2)


if __name__ == "__main__":
    unittest.main()
