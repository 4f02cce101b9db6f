"""Tests of the seeded input generators: same seed, same bytes.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import shutil
import tempfile
import unittest

import gen


def digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def generate(self, fn, seed):
        out = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, out, True)
        fn(out, seed)
        return digest(out), out

    def assert_deterministic(self, fn):
        a, _ = self.generate(fn, 7)
        b, _ = self.generate(fn, 7)
        c, _ = self.generate(fn, 8)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_catalog_is_deterministic(self):
        self.assert_deterministic(lambda out, s: gen.catalog(out, 0.002, s))

    def test_qpe_is_deterministic(self):
        self.assert_deterministic(lambda out, s: gen.qpe_slots(out, s, 3, 1.0))

    def test_llm_is_deterministic(self):
        self.assert_deterministic(lambda out, s: gen.llm(out, s, 50, 3, 40))

    def test_qpe_schedule_is_an_open_loop_plan(self):
        _, out = self.generate(lambda o, s: gen.qpe_slots(o, s, 6, 1.0), 3)
        events = json.load(open(os.path.join(out, "schedule.json")))["events"]
        slots = [e for e in events if e["file"] is None]
        self.assertEqual(len(slots), 6)
        self.assertIsNone(slots[-1]["radar"], "the last slot is never degraded")
        self.assertEqual(sum(1 for s in slots if s["radar"]), 1)
        for s in slots:
            files = [e for e in events if e["file"] and e["slot"] == s["slot"]]
            self.assertEqual(len(files), 4 if s["radar"] else 5)
            for f in files:
                self.assertTrue(os.path.exists(os.path.join(out, "staged", f["file"])))

    def test_llm_expected_counts_add_up(self):
        _, out = self.generate(lambda o, s: gen.llm(o, s, 50, 4, 40), 5)
        exp = json.load(open(os.path.join(out, "expected.json")))
        for b in exp["batches"]:
            self.assertEqual(b["short"] + b["near_dup"] + b["fresh"], 40)
        self.assertEqual(exp["final_index_docs"],
                         50 + sum(b["fresh"] for b in exp["batches"]))


if __name__ == "__main__":
    unittest.main()
