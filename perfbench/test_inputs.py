"""The generators' determinism: `python3 -m unittest discover perfbench`."""
import json
import os
import subprocess
import sys
import unittest


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_byte_identical_other_seed_differs(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        out = subprocess.run([sys.executable, "perfbench/run.py", "--selftest"],
                             cwd=root, capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        rec = json.loads(out.stdout.splitlines()[-1])
        self.assertGreater(rec["files"], 0)
        self.assertTrue(rec["same_seed_identical"], rec["mismatched"])
        self.assertTrue(rec["other_seed_differs"])


if __name__ == "__main__":
    unittest.main()
