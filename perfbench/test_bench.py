"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import math
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        p, v, n = stats.tail(range(1, 101))
        self.assertEqual((p, v, n), (90, 90, 100))
        p, v, n = stats.tail(range(1, 41))
        self.assertEqual((p, v, n), (75, 30, 40))

    def test_it_is_the_highest_such_percentile(self):
        for n in (20, 33, 57, 100, 250):
            xs = list(range(n))
            p, v, _ = stats.tail(xs)
            self.assertGreaterEqual(sum(x > v for x in xs), 10)
            if p < 99:
                self.assertLess(n - math.ceil((p + 1) * n / 100), 10)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(range(19)))
        self.assertEqual(stats.tail(range(20))[0], 50)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 0] * 3
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class Intervals(unittest.TestCase):
    def test_union(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3)]), 3)
        self.assertEqual(stats.union_length([(5, 6), (0, 1), (0.5, 0.7)]), 2)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(stats.union_length([(0, 1), (1, 2)]), 2)

    def test_clip(self):
        self.assertEqual(stats.clip([(0, 10), (12, 13)], 5, 12), [(5, 10)])

    def test_self_time(self):
        # root 0..10 with children 1..3 and 2..6 (overlapping) and a job
        # 7..8 outside the children: self = 10 - (5 + 1)
        spans = [(1, 0, "root", 0, 10), (2, 1, "a", 1, 3), (3, 1, "b", 2, 6)]
        st = stats.self_times(spans, jobs=[(7, 8), (2.5, 4)])
        self.assertAlmostEqual(st[1], 4)
        # child a: 1..3 with job 2.5..4 inside for 0.5
        self.assertAlmostEqual(st[2], 1.5)
        self.assertAlmostEqual(st[3], 2.5)

    def test_critical_path(self):
        d = {"a": 1.0, "b": 2.0, "c": 0.5, "d": 1.0}
        parents = {"b": ["a"], "c": ["a"], "d": ["b", "c", "x"]}
        self.assertEqual(stats.critical_path(d, parents), 4.0)
        self.assertEqual(stats.critical_path({}, {}), 0.0)

    def test_spread(self):
        self.assertAlmostEqual(stats.spread([1, 1, 1, 1]), 0.0)
        self.assertGreater(stats.spread([1, 2, 3, 4, 5]), 0.0)


def tree_equal(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    if mismatch or errors:
        return False
    return all(tree_equal(os.path.join(a, d), os.path.join(b, d))
               for d in cmp.common_dirs)


def generate(root, seed):
    corpus = os.path.join(root, "corpus")
    gen.make_corpus(corpus, seed, 0.001)
    models, tests = gen.slim_ci_models(seed, 6)
    src = [(t, os.path.join(corpus, t + ".parquet")) for t in ("orders", "lineitem")]
    gen.write_project(os.path.join(root, "ci"), "slim_ci", src, models, tests,
                      macros=gen.SLIM_MACROS)
    n_orders, n_lines = gen.inc_base(corpus, os.path.join(root, "inc"))
    gen.inc_batches(seed, n_orders, n_lines, 3, os.path.join(root, "inc"))
    gen.write_project(os.path.join(root, "incp"), "incremental", src,
                      gen.INC_MODELS, gen.INC_TESTS, snapshots=gen.INC_SNAPSHOTS)
    with open(os.path.join(root, "params.json"), "w") as fh:
        json.dump({"edits": gen.slim_ci_edits(seed, models, 6, 5),
                   "reads": gen.inc_reads(seed, 3, 8, n_orders),
                   "sample": gen.ops_sample()}, fh, sort_keys=True)


class Determinism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        # same place twice: project files name their sources by path
        with tempfile.TemporaryDirectory() as t:
            work, first = os.path.join(t, "work"), os.path.join(t, "first")
            generate(work, 7)
            shutil.copytree(work, first)
            shutil.rmtree(work)
            generate(work, 7)
            self.assertTrue(tree_equal(work, first))

    def test_other_seed_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            generate(a, 7)
            generate(b, 8)
            self.assertFalse(tree_equal(a, b))

    def test_edits_keep_the_cone_shape(self):
        models, _ = gen.slim_ci_models(3, 6)
        for pr in gen.slim_ci_edits(3, models, 6, 20):
            cone = set().union(*(gen.cone(models, e["name"]) for e in pr))
            self.assertEqual(len(cone), 6)
            for e in pr:
                old = next(m["body"] for m in models if m["name"] == e["name"])
                self.assertNotEqual(old, e["body"])

    def test_jinja_and_duckdb_render_the_same_template(self):
        models, _ = gen.slim_ci_models(3, 2)
        for m in models:
            self.assertNotIn("{", gen.duck(m["body"]))
            self.assertNotIn("{R:", gen.jinja(m["body"]))


if __name__ == "__main__":
    unittest.main()
