"""Generator determinism: the same seed gives byte-identical files, another
seed different ones. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import tempfile
import unittest

import gen


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):

    def written(self, fn, seed):
        with tempfile.TemporaryDirectory() as d:
            params = fn(d, seed)
            return digest(d), params

    def check(self, fn):
        a, pa = self.written(fn, 1)
        b, pb = self.written(fn, 1)
        c, _ = self.written(fn, 2)
        self.assertEqual(a, b)
        self.assertEqual(pa, pb)
        self.assertNotEqual(a, c)
        return pa

    def test_batch_capture(self):
        p = self.check(lambda d, s: gen.write_batch(
            d, s, copies=2, good_lines=30_000, files=2))
        self.assertEqual(p["malformed_lines"],
                         sum(p["malformed_by_kind"].values()))
        self.assertEqual(p["lines"], p["good_lines"] + p["malformed_lines"])
        self.assertGreater(p["golden_landings"], 0)
        self.assertGreater(p["golden_takeoffs"], 0)

    def test_stream_chunks(self):
        p = self.check(lambda d, s: gen.write_stream(d, s, 20, 10))
        self.assertEqual(len(p["chunk_lines"]), 30)
        self.assertEqual(sum(p["chunk_lines"]), p["lines"])

    def test_tables(self):
        p = self.check(lambda d, s: gen.write_tables(d, s, sf=0.001))
        self.assertEqual((p["events"], p["users"], p["customers"]),
                         (1000, 15, 150))

    def test_malformed_lines_break_the_message_format(self):
        tail = ",900,,,47.17000,-1.59800,,,,,,0"
        good = gen._line("3", "4CA8AA", 41620310, tail)
        self.assertEqual(len(good.split(",")), 22)
        for kind in gen.MALFORMED_KINDS:
            bad = gen._malform(kind, "3", "4CA8AA", 41620310, tail)
            self.assertNotEqual(bad, good, kind)


if __name__ == "__main__":
    unittest.main()
