"""The input generator is a pure function of its seed.

    python3 -m unittest discover -s perfbench/tests

The test compiles the benchmark (as a run would) and runs the JVM
generator; it is skipped when no `java` is on the PATH.
"""
import filecmp
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from lib import build  # noqa: E402


def tree(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.relpath(os.path.join(base, f), d) for f in files]
    return sorted(out)


def same_bytes(a, b):
    files = tree(a)
    return files == tree(b) and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
        for f in files)


@unittest.skipIf(shutil.which("java") is None, "no java")
class UploadInputsTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classes, cls.jars, _ = build.ensure(
            ROOT, os.path.join(ROOT, ".bench_build"))

    def generate(self, workload, seed, out):
        subprocess.run(["java", "-XX:-UsePerfData",
                        "-cp", f"{self.classes}{os.pathsep}"
                        f"{os.path.join(self.jars, '*')}",
                        "perfbench.UploadInputs", workload, str(seed), out],
                       check=True)

    def test_same_seed_byte_identical_inputs(self):
        for workload in ("upload", "upload_small"):
            with self.subTest(workload=workload), \
                    tempfile.TemporaryDirectory() as a, \
                    tempfile.TemporaryDirectory() as b, \
                    tempfile.TemporaryDirectory() as c:
                self.generate(workload, 5, a)
                self.generate(workload, 5, b)
                self.generate(workload, 6, c)
                files = tree(a)
                self.assertTrue(any(f.endswith(".xlsx") for f in files))
                self.assertTrue(any(f.endswith(".csv") for f in files))
                self.assertTrue(same_bytes(a, b))
                self.assertFalse(same_bytes(a, c))


if __name__ == "__main__":
    unittest.main()
