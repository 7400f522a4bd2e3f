"""Input-generation test for the benchmark: the same seed must give
byte-identical inputs, and a different seed different ones.

    python3 -m unittest perfbench/test_inputs.py    (from the checkout root)
"""
import os
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


class InputsAreAFunctionOfTheSeed(unittest.TestCase):
    def test_selftest(self):
        r = subprocess.run([sys.executable, RUN, "--selftest"], capture_output=True, text=True,
                           timeout=900)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-2000:])
        self.assertIn("same seed gives identical bytes: true; other seed differs in every family: true",
                      r.stdout)


if __name__ == "__main__":
    unittest.main()
