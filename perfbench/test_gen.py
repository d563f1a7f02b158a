"""The generators are pure functions of the seed.

  python3 -m unittest perfbench/test_gen.py     (from the checkout root)
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GeneratorsAreSeeded(unittest.TestCase):
    def outputs(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, seed, d)
            return digest(d)

    def check(self, workload):
        a = self.outputs(workload, 7)
        self.assertEqual(a, self.outputs(workload, 7), "same seed, same bytes")
        self.assertNotEqual(a, self.outputs(workload, 8), "two seeds differ")

    def test_ingest(self):
        self.check("ingest")

    def test_vector_serving(self):
        self.check("vector_serving")


if __name__ == "__main__":
    unittest.main()
