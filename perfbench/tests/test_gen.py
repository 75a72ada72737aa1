"""The input generator is a pure function of its seed.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402


def files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs)


class SameSeedSameBytes(unittest.TestCase):
    def generate(self, tmp, workload, seed, name):
        out = os.path.join(tmp, name)
        return out, gen.generate(workload, seed, out, n_stream_files=6)

    def test_every_workload(self):
        for w in ("interactive", "stream_ingest"):
            with self.subTest(workload=w), tempfile.TemporaryDirectory() as tmp:
                a, sizes_a = self.generate(tmp, w, 7, "a")
                b, sizes_b = self.generate(tmp, w, 7, "b")
                c, _ = self.generate(tmp, w, 8, "c")
                self.assertEqual(sizes_a, sizes_b)
                self.assertEqual(files(a), files(b))
                for f in files(a):
                    self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f)
                self.assertTrue(any(not filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False)
                                    for f in files(a)), "another seed must give other inputs")
                for t in sizes_a.values():
                    self.assertGreater(t["rows"], 0)
                    self.assertGreater(t["bytes"], 0)


if __name__ == "__main__":
    unittest.main()
