#!/usr/bin/env python3
"""The benchmark's own tests: its input generators are seeded.

The same seed must give byte-identical inputs and a different seed
different ones, for the query tables (``gen_tables.py``) and for the
writer and view lanes (the harness's ``inputs`` mode, which needs the
build). Run from the checkout root:

    python3 perfbench/tests/test_inputs.py
"""
import filecmp
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(build.ROOT, ".bench_work", "tests")


def same_files(a, b):
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


class SeededInputs(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        os.makedirs(SCRATCH)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def check_generator(self, generate):
        a, b, c = (os.path.join(SCRATCH, x) for x in "abc")
        generate(a, 7)
        generate(b, 7)
        generate(c, 8)
        self.assertTrue(os.listdir(a))
        self.assertTrue(same_files(a, b), "same seed, different bytes")
        self.assertFalse(same_files(a, c), "different seed, same bytes")

    def test_query_tables(self):
        self.check_generator(lambda d, s: gen_tables.generate(d, s, 0.001))

    def test_writer_and_view_inputs(self):
        build.build()

        def harness(d, s):
            os.makedirs(d)
            subprocess.run(run.jvm_cmd(d, [
                "--workload", "inputs", "--seed", str(s), "--seconds", "0",
                "--trace", "0", "--work", d]), check=True)
            shutil.rmtree(os.path.join(d, "tmp"))
        self.check_generator(harness)


if __name__ == "__main__":
    unittest.main()
