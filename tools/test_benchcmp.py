"""Tests for benchcmp.py. Run: python3 -m unittest discover -s tools"""
import contextlib
import io
import json
import math
import os
import tempfile
import unittest

import benchcmp


class BenchcmpTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.addCleanup(self.dir.cleanup)

    def detail(self, name, p50):
        path = os.path.join(self.dir.name, name)
        with open(path, "w") as f:
            json.dump({"queries_p50": p50}, f)
        return path

    def run_quiet(self, fn, *args):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            result = fn(*args)
        return result, out.getvalue()

    def test_cmp_geomean_skips_zero_and_infinite_ratios(self):
        before = self.detail("b.json", {"a": 1.0, "b": 2.0, "z": 0.0, "gone": 1.0})
        after = self.detail("a.json", {"a": 2.0, "b": 1.0, "z": 1.0, "gone": 0.0})
        gm, out = self.run_quiet(benchcmp.cmp, before, after)
        # ratios 2.0 and 0.5 only: the inf (z) and the 0 (gone) are left
        # out of both the log sum and the count
        self.assertTrue(math.isclose(gm, 1.0), out)
        self.assertIn("over 2 of 4 keys", out)

    def test_cmp_without_common_keys(self):
        before = self.detail("b.json", {"a": 1.0})
        after = self.detail("a.json", {"b": 1.0})
        gm, out = self.run_quiet(benchcmp.cmp, before, after)
        self.assertIsNone(gm)
        self.assertEqual(out.strip(), "no common keys")

    def test_merge_sums_only_keys_in_every_run(self):
        full = self.detail("full.json", {"a": 1.0, "b": 3.0, "c": 5.0})
        subset = self.detail("subset.json", {"a": 0.5, "d": 7.0})
        out_path = os.path.join(self.dir.name, "merged.json")
        _, out = self.run_quiet(benchcmp.merge, out_path, [full, subset])
        with open(out_path) as f:
            merged = json.load(f)
        self.assertEqual(merged["queries_p50"], {"a": 0.5, "b": 3.0, "c": 5.0, "d": 7.0})
        self.assertEqual(merged["total_p50"], 0.5)
        self.assertEqual(merged["total_p50_dropped"], 3)
        self.assertIn("(3 dropped)", out)


if __name__ == "__main__":
    unittest.main()
