"""The seeded input generators: the same seed gives an identical input
fingerprint, a different seed a different one. Compiles the benchmark
(build.py) and runs graft.perfbench.Gen on the JVM."""

import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import build  # noqa: E402


def fingerprints(seed, n=20000):
    out = subprocess.run(
        ["java", "-XX:-UsePerfData", "-cp", build.build() + os.pathsep + build.spark_jars(),
         "graft.perfbench.Gen", str(seed), str(n)],
        check=True, capture_output=True, text=True).stdout
    return dict(line.split() for line in out.splitlines())


class SeededGenerators(unittest.TestCase):
    def test_same_seed_same_fingerprint(self):
        a, b = fingerprints(7), fingerprints(7)
        self.assertEqual(a, b)
        self.assertEqual(set(a), {"points", "items"})

    def test_different_seed_different_fingerprint(self):
        a, b = fingerprints(7), fingerprints(8)
        self.assertNotEqual(a["points"], b["points"])
        self.assertNotEqual(a["items"], b["items"])


if __name__ == "__main__":
    unittest.main()
