"""Generator determinism: the same (workload, seed, scale) gives byte-identical
inputs, and another seed gives other inputs.

    python3 -m unittest discover -s jobbench/tests
"""

import hashlib
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import gen  # noqa: E402


def digest_tree(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorDeterminism(unittest.TestCase):

    def setUp(self):
        base = build.default_build_dir()
        os.makedirs(base, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="gen-test-", dir=base)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def gen(self, workload, seed, name):
        out = os.path.join(self.tmp, name)
        gen.generate(workload, seed, "tiny", out)
        return digest_tree(out)

    def test_same_seed_same_bytes(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                a = self.gen(w, 11, w + "-a")
                b = self.gen(w, 11, w + "-b")
                self.assertTrue(a)
                self.assertEqual(a, b)

    def test_other_seed_other_inputs(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                a = self.gen(w, 11, w + "-a")
                c = self.gen(w, 12, w + "-c")
                self.assertEqual(sorted(a), sorted(c))
                self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
