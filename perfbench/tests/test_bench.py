"""Tests of the benchmark's Python side.

    python3 -m unittest discover -s perfbench/tests

The Scala side (listener counts, brute-force checker, fingerprint) is
tested by `sbt test` in perfbench/.
"""
import filecmp
import json
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

import pyarrow as pa  # noqa: E402


class Percentile(unittest.TestCase):
    # the sample-count rule is Stats.minSamples, tested in BenchSpec
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(run.percentile(xs, 0.5), 50)
        self.assertEqual(run.percentile(xs, 0.9), 90)
        self.assertEqual(run.percentile(list(reversed(xs)), 0.9), 90)
        self.assertEqual(run.percentile([5.0] * 20, 0.5), 5.0)
        self.assertEqual(run.percentile([3.0, 1.0, 2.0], 0.5), 2.0)


class Fingerprint(unittest.TestCase):
    def table(self, a, b, c):
        return pa.table({"a": pa.array(a), "b": pa.array(b, type=pa.float64()),
                         "c": pa.array(c, type=pa.list_(pa.int64()))})

    def test_order_independent(self):
        t1 = self.table(["x", None], [1.5, -1e-7], [[3], []])
        t2 = self.table([None, "x"], [-1e-7, 1.5], [[], [3]])
        self.assertEqual(oracle.fingerprint(t1), oracle.fingerprint(t2))
        swapped = t1.select(["c", "a", "b"])
        self.assertEqual(oracle.fingerprint(t1), oracle.fingerprint(swapped))

    def test_same_as_scala(self):
        # BenchSpec.GoldenHash is the Scala fingerprint of the same table
        t = self.table(["x", None], [1.5, -1e-7], [[3], []])
        self.assertEqual(oracle.fingerprint(t)[0],
                         "9275eda2eefe6783d9165306f4e85371d6e0a5c99de4e5664daee5def11ffac0")

    def test_canon(self):
        self.assertEqual(oracle._render(1.0000004), "1.000000")
        self.assertEqual(oracle._render(-1e-9), "0.000000")
        self.assertEqual(oracle._render(None), "NULL")
        self.assertEqual(oracle._render([1, None, 2.5]), "[1,NULL,2.500000]")
        self.assertEqual(oracle._render(True), "true")
        # list order is data
        self.assertNotEqual(oracle.fingerprint(self.table(["x"], [1.0], [[1, 2]])),
                            oracle.fingerprint(self.table(["x"], [1.0], [[2, 1]])))

    def test_float32_vectors_exact(self):
        def vec(xs):
            return pa.table({"v": pa.array(xs, type=pa.list_(pa.float32()))})
        a = oracle.fingerprint(vec([[0.5, 1.25], [2.0, 3.0]]))
        self.assertEqual(a, oracle.fingerprint(vec([[2.0, 3.0], [0.5, 1.25]])))
        # one ulp apart: equal at 6 places, different bits
        self.assertNotEqual(oracle.fingerprint(vec([[1.0]])),
                            oracle.fingerprint(vec([[1.0000001]])))
        self.assertEqual(oracle.fingerprint(vec([None, [1.0]]))[1], 2)


class Generation(unittest.TestCase):
    tmp = os.path.join(HERE, ".work", "test-gen")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def gen_twice(self, workload, seed):
        dirs = []
        for i in range(2):
            cache = os.path.join(self.tmp, str(i))
            dirs.append(gen.ensure(workload, run.DATA, cache, seed))
        return dirs

    @staticmethod
    def files(root):
        return sorted(os.path.relpath(os.path.join(d, f), root)
                      for d, _, fs in os.walk(root) for f in fs)

    def test_same_seed_byte_identical(self):
        for w in ("pipeline_scaled", "rag_serve"):
            a, b = self.gen_twice(w, 5)
            files = self.files(a)
            self.assertEqual(files, self.files(b))
            self.assertIn("meta.json", files)
            match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)
            self.assertEqual(len(match), len(files))

    def test_seeds_differ(self):
        a = gen.ensure("rag_serve", run.DATA, os.path.join(self.tmp, "a"), 5)
        b = gen.ensure("rag_serve", run.DATA, os.path.join(self.tmp, "b"), 6)
        self.assertFalse(filecmp.cmp(os.path.join(a, "questions.parquet"),
                                     os.path.join(b, "questions.parquet"), shallow=False))


class BenchmarkJson(unittest.TestCase):
    def test_metrics_match_run_py(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS[:2]))
        self.assertEqual(max(m["bound"] for m in spec["end_to_end"]),
                         next(m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"))


if __name__ == "__main__":
    unittest.main()
