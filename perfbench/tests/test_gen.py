"""The benchmark's input generators are pure functions of the seed.

  python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class SeededInputs(unittest.TestCase):
    def _twice(self, kind, seed, other):
        with tempfile.TemporaryDirectory() as tmp:
            a, b, c = (os.path.join(tmp, x) for x in "abc")
            ia, ib = gen.generate(kind, a, seed), gen.generate(kind, b, seed)
            ic = gen.generate(kind, c, other)
            self.assertEqual(ia, ib)
            self.assertEqual(_files(a), _files(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            _, differ, _ = filecmp.cmpfiles(a, c, _files(a), shallow=False)
            self.assertTrue(differ, "another seed must give other inputs")
            return ia

    def test_curation_near_duplicates(self):
        info = self._twice("curation", 3, 4)["info"]
        self.assertEqual(info["rows"]["documents"], 300)
        self.assertGreater(info["near_dup_share"], 0.15)
        self.assertLessEqual(info["near_dup_share"], 0.2)

    def test_claims_expectations(self):
        info = self._twice("claims", 3, 4)["info"]
        b1, b2 = info["batches"]["batch1"], info["batches"]["batch2"]
        self.assertEqual(b1["claim"], 1500)
        # the refresh updates 20% of the claims and adds 10% new ones
        self.assertEqual(b2["claim"], 450)
        self.assertEqual(info["union"]["claim"], 1650)
        self.assertEqual(sum(info["gold_cents"].values()) > 0, True)
        # one mart row per final claim; each child table keeps one row per key
        mart = info["claims_mart"]
        self.assertEqual(mart["rows"], 1650)
        self.assertEqual(mart["claimpayment_rows"], info["union"]["claimpayment"])
        self.assertEqual(mart["claimproduct_rows"], info["union"]["claimproduct"])
        self.assertGreater(mart["total_paid_cents"], 0)

    def test_event_batches(self):
        info = self._twice("events", 3, 4)["info"]
        self.assertEqual(info["rows"], info["distinct_events"] + info["duplicates"])
        self.assertEqual(len(info["files"]), 4)


if __name__ == "__main__":
    unittest.main()
