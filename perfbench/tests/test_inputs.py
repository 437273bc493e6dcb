"""The seed decides a run's inputs: the same seed gives the same inputs,
another seed different ones. Builds the program on first use.

Run from the repository root: python3 -m pytest perfbench/tests
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(os.path.dirname(HERE), "run.py")
sys.path.insert(0, os.path.dirname(HERE))

import tables  # noqa: E402


def inputs(workload, seed):
    out = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                          "--seconds", "1", "--inputs-only"],
                         stdout=subprocess.PIPE, check=True, text=True,
                         cwd=os.path.dirname(os.path.dirname(HERE)))
    return out.stdout.strip().splitlines()[-1]


class SeededInputs(unittest.TestCase):
    def check(self, workload):
        a, b, c = inputs(workload, 1), inputs(workload, 1), inputs(workload, 2)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_recipe_documents(self):
        self.check("recipe_etl")

    def test_registry_query_order(self):
        self.check("registry_mix")

    def test_registry_tables_are_fixed(self):
        a, b = tables.build(0.001), tables.build(0.001)
        for name in tables.NAMES:
            self.assertTrue(a[name].equals(b[name]), name)


if __name__ == "__main__":
    unittest.main()
