"""Tests of the benchmark's own arithmetic, on synthetic input.

Run from the root of a checkout:  python3 -m unittest discover -s perfbench/tests

The canonical-hash tests compile the benchmark (perfbench/build.py) and
compare the Scala rendering with `scripts/check.py`'s `canon`.
"""
import hashlib
import importlib.util
import json
import math
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = os.path.dirname(HERE)
sys.path.insert(0, PKG)
import build  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(layers.percentile(xs, 0.9), 90.1)
        self.assertAlmostEqual(layers.percentile(xs, 0.5), 50.5)

    def test_needs_ten_samples_above(self):
        # p90 of n samples sits at 0.9*(n-1); 92 samples leave 10 above it
        layers.percentile(range(92), 0.9)
        with self.assertRaises(layers.MetricError):
            layers.percentile(range(91), 0.9)
        with self.assertRaises(layers.MetricError):
            layers.percentile([], 0.5)


class DriverGapTest(unittest.TestCase):
    def test_union_of_job_intervals(self):
        self.assertEqual(layers.union_length([(1, 3), (2, 5), (7, 8)]), 5)
        self.assertEqual(layers.union_length([]), 0)
        # overlapping jobs are not counted twice
        self.assertEqual(layers.driver_gap(0, 10, [(1, 3), (2, 5), (7, 8)]), 5)

    def test_jobs_are_clipped_to_the_query(self):
        self.assertEqual(layers.driver_gap(0, 10, [(-5, 2), (9, 20)]), 7)
        self.assertEqual(layers.driver_gap(0, 10, []), 10)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def tree(**spans):
        return {k: {"parent": p, "start": s, "end": e} for k, (p, s, e) in spans.items()}

    def test_disjoint_children(self):
        # self = duration - time covered by children
        t = self.tree(q=(None, 0, 10), call=("q", 0, 4), ex=("q", 5, 10), job=("ex", 6, 8))
        st = layers.self_times(t, "q")
        self.assertEqual(st, {"q": 1, "call": 4, "ex": 3, "job": 2})
        self.assertEqual(sum(st.values()), 10)

    def test_concurrent_children_split_the_shared_time(self):
        t = self.tree(q=(None, 0, 10), call=("q", 0, 4), ex=("q", 4, 10),
                      job=("ex", 5, 9), s1=("job", 5, 7), s2=("job", 6, 9))
        st = layers.self_times(t, "q")
        self.assertEqual(st["ex"], 2)
        self.assertEqual(st["job"], 0)
        self.assertAlmostEqual(st["s1"], 1.5)
        self.assertAlmostEqual(st["s2"], 2.5)
        self.assertAlmostEqual(sum(st.values()), 10)

    def test_children_are_clipped_to_the_parent(self):
        t = self.tree(q=(None, 0, 10), job=("q", 8, 15))
        st = layers.self_times(t, "q")
        self.assertEqual(st, {"q": 8, "job": 2})


class CheckTest(unittest.TestCase):
    def test_unstable_and_mismatched_hashes_fail(self):
        raw = {"execs": [
            {"query": "a", "hash": "h1", "error": ""},
            {"query": "a", "hash": "h1", "error": ""},
            {"query": "b", "hash": "h2", "error": ""},
            {"query": "b", "hash": "h3", "error": ""},
            {"query": "c", "hash": "x", "error": ""},
            {"query": "d", "hash": "", "error": "boom"},
        ]}
        expected = {q: {"hash": h} for q, h in (("a", "h1"), ("b", "h2"), ("c", "y"), ("d", "z"))}
        failed, problems = run.check(raw, expected)
        self.assertEqual(failed, 4)
        self.assertEqual(sorted(problems), ["b", "c", "d"])
        self.assertTrue(problems["b"].startswith("unstable"))


def load_check_py():
    path = os.path.join(os.path.dirname(PKG), "scripts", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def py_hash(cols, rows, canon_rows):
    sorted_cols, rendered = canon_rows(cols, rows)
    h = hashlib.sha256()
    h.update(("\x1f".join(sorted_cols) + "\n").encode())
    for r in rendered:
        h.update(("\x1f".join(r) + "\n").encode())
    return h.hexdigest()


class CanonTest(unittest.TestCase):
    DOUBLES = [0.1, 1e-5, 1.5e16, 100.0, -0.0, float("nan"), 1.0 / 3, math.sqrt(2.0),
               5e-324, 1.7976931348623157e308, 123456.789, 0.07, 1e16, 9007199254740993.0,
               -2.5e-7, 1.0000000000000002, 0.0001, 123.0e-10]

    @classmethod
    def setUpClass(cls):
        try:
            cls.check = load_check_py()
        except ImportError as e:  # check.py needs duckdb
            raise unittest.SkipTest(f"scripts/check.py not importable: {e}")
        classes = build.compile_classes()
        out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(classes),
                              "perfbench.CanonCheck"],
                             check=True, stdout=subprocess.PIPE, text=True).stdout
        cls.scala = json.loads(out.strip().splitlines()[-1])

    def test_values_render_as_check_py_renders_them(self):
        import datetime
        import struct
        f32 = struct.unpack("f", struct.pack("f", 0.1))[0]
        expected = [self.check.canon(d) for d in self.DOUBLES] + [
            self.check.canon(f32), self.check.canon([1.5, 2.0]), self.check.canon(None),
            self.check.canon(True), self.check.canon(42), self.check.canon("x y"),
            self.check.canon(datetime.datetime(2024, 1, 1, 0, 0, 11, 172425)),
            self.check.canon(datetime.datetime(1998, 2, 6, 0, 0))]
        self.assertEqual(self.scala["values"], expected)

    def test_hash_ignores_column_and_row_order(self):
        self.assertEqual(self.scala["hash_ab"], self.scala["hash_ba"])

    def test_hash_sees_the_last_float_bit(self):
        self.assertNotEqual(self.scala["hash_ulp"], self.scala["hash_one"])

    def test_hash_matches_check_py_canonical_rows(self):
        cols, rows = ["b", "a"], [(1, "x"), (2, "y")]
        self.assertEqual(self.scala["hash_ba"], py_hash(cols, rows, self.check.canon_rows))
        rows = [("y", 2), ("x", 1.0000000000000002)]
        self.assertEqual(self.scala["hash_ulp"], py_hash(["a", "b"], rows, self.check.canon_rows))


if __name__ == "__main__":
    unittest.main()
