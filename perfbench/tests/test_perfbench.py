"""The benchmark's own tests: seeded inputs, the percentile rule, and the
metric names. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import report  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def scratch():
    os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
    return tempfile.TemporaryDirectory(dir=os.path.join(HERE, "work"))


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors


class SeededInputs(unittest.TestCase):
    SCALE = 0.001

    def generate(self, root, seed):
        graph = os.path.join(root, "graph")
        gen.write_tpch(graph, seed, self.SCALE)
        for w in ("kg_lookup", "curation_batch"):
            gen.write_workload(w, os.path.join(root, w), seed, graph, n_docs=300, n_queries=200)
        return graph

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with scratch() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            self.generate(a, 7)
            self.generate(b, 7)
            self.generate(c, 8)
            for sub in ("graph", "kg_lookup", "curation_batch"):
                self.assertTrue(same_tree(os.path.join(a, sub), os.path.join(b, sub)), sub)
                self.assertFalse(same_tree(os.path.join(a, sub), os.path.join(c, sub)), sub)

    def test_corpus_plants_every_structure(self):
        rows, exp = gen.corpus(3, 600)
        self.assertEqual(exp["n_docs"], len(rows["doc_id"]))
        self.assertTrue(exp["dup_groups"] and exp["near_pairs"] and exp["bad_ids"])
        text = dict(zip(rows["doc_id"], rows["text"]))
        for g in exp["dup_groups"]:
            self.assertEqual(len({text[i] for i in g}), 1)
        for a, b in exp["near_pairs"]:
            self.assertNotEqual(text[a], text[b])


class Percentiles(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(report.percentile(list(range(100)), 95))   # 5 beyond
        self.assertEqual(report.percentile(list(range(200)), 95), 189)  # 10 beyond
        self.assertIsNone(report.percentile(list(range(199)), 95))
        self.assertIsNone(report.percentile([], 50))

    def test_tail_is_highest_qualifying(self):
        self.assertEqual(report.tail(list(range(1000))), (99, 989))
        self.assertEqual(report.tail(list(range(100))), (90, 89))
        self.assertIsNone(report.tail(list(range(30))))


class MetricNames(unittest.TestCase):
    def test_end_to_end_names_match(self):
        raw = {"setup_s": [1.0, 2.0, 3.0], "cache_mb": 4.0, "op_ms": [5.0], "units": 6,
               "window_s": 2.0}
        got = report.select(report.end_to_end(raw), SPEC["end_to_end"])
        self.assertEqual(set(report.end_to_end(raw)), {m["name"] for m in SPEC["end_to_end"]})
        self.assertEqual(list(got), [m["name"] for m in SPEC["end_to_end"]])

    def test_every_layer_name_the_jvm_side_emits_is_declared(self):
        declared = {m["name"] for m in SPEC["per_layer"]}
        src = ""
        scala = os.path.join(HERE, "src", "main", "scala", "perfbench")
        for f in sorted(os.listdir(scala)):
            with open(os.path.join(scala, f)) as fh:
                src += fh.read()
        emitted = set(re.findall(r'layers\("([^"]+)"\)', src))
        steps = re.findall(r'step\("(\w+)"\)', src)
        for prefix in re.findall(r'layers\(s"([\w.]+)\.\$name"\)', src):
            emitted |= {prefix + "." + s for s in steps}
        self.assertTrue(emitted)
        self.assertEqual(emitted - declared, set())
        self.assertEqual(declared - emitted, set())


class Refusal(unittest.TestCase):
    def test_fails_without_the_repository(self):
        with scratch() as t:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), t)
            shutil.copytree(HERE, os.path.join(t, "perfbench"),
                            ignore=shutil.ignore_patterns("work", "target", "project"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "kg_lookup",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=t, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
