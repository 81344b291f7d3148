#!/usr/bin/env python3
"""The report generator is a pure function of its arguments.

    python3 -m unittest perfbench/test_gen_reports.py
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_reports  # noqa: E402


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GenReportsTest(unittest.TestCase):
    def gen(self, seed, samples=12, taxa=500):
        d = tempfile.mkdtemp()
        paths, groups = gen_reports.generate(d, samples, taxa, seed)
        return paths, groups

    def test_same_seed_same_bytes(self):
        a, _ = self.gen(7)
        b, _ = self.gen(7)
        self.assertEqual(digest(a), digest(b))

    def test_pinned_bytes(self):
        # guards against a change of generator or of Python's random module
        paths, _ = self.gen(7)
        self.assertEqual(digest(paths), PINNED_SEED7)

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(digest(self.gen(7)[0]), digest(self.gen(8)[0]))

    def test_properties(self):
        paths, groups = self.gen(3, samples=30, taxa=2000)
        ids = [os.path.basename(p).rpartition("_")[0] for p in paths]
        self.assertEqual(groups, [("NCA", "^A"), ("NCB", "^B")])
        self.assertEqual(ids[:2], ["NCA", "NCB"])
        densities, genus, dups, quoted = [], 0, 0, 0
        for p in paths:
            with open(p) as f:
                lines = f.read().splitlines()
            self.assertTrue(lines[0].startswith("#") and lines[1].startswith("#"))
            self.assertEqual(lines[2], gen_reports.HEADER)
            self.assertEqual([ln.split("\t")[6] for ln in lines[3:5]], ["0", "1"])
            rows = [ln.split("\t") for ln in lines[5:]]
            species = [r for r in rows if r[7] == "species"]
            ids_seen = [r[6] for r in species]
            dups += len(ids_seen) - len(set(ids_seen))
            genus += sum(1 for r in rows if r[7] == "genus")
            quoted += sum(1 for r in rows if "," in r[8] or '"' in r[8])
            densities.append(len(set(ids_seen)) / 2000)
        self.assertTrue(all(0.25 < d < 0.95 for d in densities), densities)
        self.assertGreater(max(densities) - min(densities), 0.3)
        self.assertGreater(genus, 0)
        self.assertGreater(dups, 0)
        self.assertGreater(quoted, 0)


PINNED_SEED7 = "a106108cb94f659fa357e3719c3c008d8080eef7f6c7abf68284a2d339c80f23"

if __name__ == "__main__":
    unittest.main()
