"""Determinism of the benchmark's seeded input generators: the same seed
gives byte-identical inputs, a different seed gives different ones.

    python3 -m unittest discover -s perfbench/tests   (from the repository root)
"""
import hashlib
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import build  # noqa: E402


def dump(cp, seed, out):
    """Every kind of generated input for `seed`, as {file name: sha256}."""
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.Main", "--mode", "dump",
                    "--seed", str(seed), "--out", out], check=True)
    digests = {}
    for name in sorted(os.listdir(out)):
        with open(os.path.join(out, name), "rb") as fh:
            digests[name] = hashlib.sha256(fh.read()).hexdigest()
    return digests


class GeneratorDeterminism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(build.BUILD, exist_ok=True)
        cls.cp = build.classpath()

    def test_same_seed_same_bytes_and_other_seed_differs(self):
        with tempfile.TemporaryDirectory(dir=build.BUILD) as tmp:
            a = dump(self.cp, 7, os.path.join(tmp, "a"))
            b = dump(self.cp, 7, os.path.join(tmp, "b"))
            c = dump(self.cp, 8, os.path.join(tmp, "c"))
        kinds = {n.rsplit(".", 1)[-1] for n in a}
        self.assertTrue({"pdf", "docx", "txt", "jsonl"} <= kinds, kinds)
        self.assertTrue(any(n.startswith("vectors") for n in a))
        self.assertTrue(any(n.startswith("cdc") for n in a))
        self.assertEqual(a, b)
        for name in ("vectors.txt", "cdc.txt", "shard_0.jsonl"):
            self.assertNotEqual(a[name], c[name], name)
        self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
