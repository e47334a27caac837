"""Generator determinism: the same seed gives byte-identical inputs, a
different seed gives different ones.

Run from the repository root: python3 -m unittest perfbench/test_gen.py
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):
    def run_gen(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, seed, d)
            return digest(d)

    def test_same_seed_same_bytes(self):
        for w in gen.PROFILES:
            self.assertEqual(self.run_gen(w, 7), self.run_gen(w, 7), w)

    def test_other_seed_other_bytes(self):
        for w in gen.PROFILES:
            self.assertNotEqual(self.run_gen(w, 7), self.run_gen(w, 8), w)


if __name__ == "__main__":
    unittest.main()
