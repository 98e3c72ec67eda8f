"""Tests of the benchmark's own code. Run from the checkout root:

  python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import importlib.util
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import pandas as pd  # noqa: E402

from bench import docs, feeds, metrics, oracle  # noqa: E402


def scratch():
    base = os.path.join(BENCH, ".work", "tests")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(dir=base)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.dirs = [scratch() for _ in range(3)]

    def tearDown(self):
        for d in self.dirs:
            shutil.rmtree(d, ignore_errors=True)

    def write(self, seed, d):
        f = feeds.Feeds(seed, days=3, tx_per_day=300)
        f.write(os.path.join(d, "feeds"), os.path.join(d, "bank"))
        return f

    def same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        if cmp.left_only or cmp.right_only:
            return False
        _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
        return not mismatch and not errors and all(
            self.same_tree(os.path.join(a, s), os.path.join(b, s)) for s in cmp.common_dirs)

    def test_feeds_are_a_function_of_the_seed(self):
        a = self.write(7, self.dirs[0])
        b = self.write(7, self.dirs[1])
        c = self.write(8, self.dirs[2])
        self.assertTrue(self.same_tree(self.dirs[0], self.dirs[1]))
        self.assertFalse(self.same_tree(self.dirs[0], self.dirs[2]))
        self.assertEqual(a.expected(), b.expected())
        self.assertNotEqual(a.expected(), c.expected())

    def test_planted_vectors(self):
        f = self.write(3, self.dirs[0])
        exp = f.expected()
        names = sorted(os.listdir(os.path.join(self.dirs[0], "feeds")))
        self.assertEqual(len(names), 9)
        # SCD2: every later day adds, changes and deletes terminals
        for prev, cur in zip(exp, exp[1:]):
            self.assertGreater(len(cur["hist"]), len(prev["hist"]))
            self.assertTrue(any(h[4] == 1 for h in cur["hist"]))
        # the blacklist grows and every fraud rule has positives
        self.assertLess(len(exp[0]["blacklist"]), len(exp[-1]["blacklist"]))
        kinds = {r[4] for n in exp for r in n["mart"]}
        self.assertEqual(len(kinds), 3)
        with open(os.path.join(self.dirs[0], "feeds", names[-1]), encoding="utf-8") as t:
            head = t.read().split("\n")[:2]
        self.assertTrue(head[0].startswith(" ") and head[1].startswith(" "))
        self.assertIn(",", head[1].split(";")[2])

    def test_document_batches_are_a_function_of_the_seed(self):
        corpus = os.path.join(BENCH, "data", "sf0.01", "documents.parquet")
        n1 = docs.make_batches(corpus, self.dirs[0], 5, 3, 20)
        docs.make_batches(corpus, self.dirs[1], 5, 3, 20)
        docs.make_batches(corpus, self.dirs[2], 6, 3, 20)
        self.assertEqual(n1, 520)
        self.assertTrue(self.same_tree(self.dirs[0], self.dirs[1]))
        self.assertFalse(self.same_tree(self.dirs[0], self.dirs[2]))


class DigestTest(unittest.TestCase):
    def load_check_oracle(self):
        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_norm_agrees_with_check_oracle(self):
        ref = self.load_check_oracle()
        df = pd.DataFrame({"b": [2.5, None, 1.0], "a": ["x", "y", None], "c": [3, 1, 2]})
        pd.testing.assert_frame_equal(oracle.norm(df), ref.norm(df))

    def test_digest_ignores_row_and_column_order(self):
        df = pd.DataFrame({"a": [1, 2, 3], "b": ["p", "q", "r"]})
        shuffled = df.iloc[[2, 0, 1]][["b", "a"]]
        self.assertEqual(oracle.digest(df), oracle.digest(shuffled))
        self.assertNotEqual(oracle.digest(df), oracle.digest(df.iloc[:2]))

    def test_spark_encoded_result_matches_duckdb(self):
        orc = oracle.Oracle(os.path.join(BENCH, "data", "sf0.01"))
        sql = ("SELECT 1::INTEGER AS i, 2::BIGINT AS l, 2.50::DECIMAL(10,2) AS d, "
               "0.1::FLOAT AS f, 0.1::DOUBLE AS x, 'ж' AS s, DATE '2021-03-01' AS dt, "
               "TIMESTAMP '2021-03-01 00:00:01' AS ts, [1, 2]::BIGINT[] AS arr, NULL::VARCHAR AS n")
        schema = {"type": "struct", "fields": [
            {"name": n, "type": t, "nullable": True, "metadata": {}} for n, t in (
                ("i", "integer"), ("l", "long"), ("d", "decimal(10,2)"), ("f", "float"),
                ("x", "double"), ("s", "string"), ("dt", "date"), ("ts", "timestamp"),
                ("arr", {"type": "array", "elementType": "long", "containsNull": True}),
                ("n", "string"))]}
        # what perfbench.Encode writes for that row
        row = [1, 2, "2.50", "0.1", 0.1, "ж", "2021-03-01", 1614556801000000, [1, 2], None]
        result = {"schema": json.dumps(schema), "rows": [row]}
        self.assertEqual(orc.check(result, sql), (True, ""))
        row[2] = "2.51"
        self.assertFalse(orc.check(result, sql)[0])


class SelfTimeTest(unittest.TestCase):
    def test_union_and_self_time(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        span = {"t0": 0.0, "t1": 100.0}
        kids = [{"t0": 10, "t1": 30}, {"t0": 20, "t1": 40}, {"t0": 90, "t1": 120},
                {"t0": 200, "t1": 210}]
        # covered: [10, 40] and [90, 100] -> 40 of 100
        self.assertEqual(metrics.self_time(span, kids), 60.0)

    def test_driver_self_time_of_nights(self):
        """Jobs started under a span nested in a night count as the night's
        children; jobs outside any op do not."""
        spans = [
            {"id": 0, "parent": -1, "name": "night:d2", "kind": "night", "t0": 0, "t1": 1000},
            {"id": 1, "parent": 0, "name": "inner", "kind": "layer", "t0": 100, "t1": 900},
            {"id": 2, "parent": -1, "name": "check:d2", "kind": "check", "t0": 1000, "t1": 1500},
        ]
        jobs = [
            {"id": 0, "span": 0, "exec": -1, "site": "x at EtlPipeline.scala:1",
             "t0": 50, "t1": 250, "stages": [0], "ok": True},
            {"id": 1, "span": 1, "exec": -1, "site": "x at WarehouseFs.scala:9",
             "t0": 200, "t1": 400, "stages": [1], "ok": True},
            {"id": 2, "span": 2, "exec": -1, "site": "x at Workloads.scala:5",
             "t0": 1100, "t1": 1400, "stages": [2], "ok": True},
        ]
        stage = {"tasks": 1, "run_s": 0.1, "cpu_s": 0.1, "shuffle_write_bytes": 0,
                 "shuffle_read_bytes": 0, "spill_bytes": 0, "input_bytes": 0,
                 "input_records": 0, "output_bytes": 0}
        result = {
            "ops": [{"kind": "setup_night", "name": "d1", "primary": True, "ok": True,
                     "t0": -2000, "t1": -1000, "gc_s": 0.5, "jit_s": 2.0},
                    {"kind": "night", "name": "d2", "primary": True, "ok": True,
                     "t0": 0, "t1": 1000, "gc_s": 0.25, "jit_s": 0.125}],
            "peak_rss_mb": 1.0, "outputs": {},
            "trace": {"spans": spans, "jobs": jobs,
                      "stages": [dict(stage, id=i) for i in range(3)],
                      "queries": [], "counters": {}}}
        m = metrics.per_layer(result)
        self.assertEqual(m["etl.jobs"], 2)
        self.assertEqual(m["spark.jobs"], 2)
        self.assertAlmostEqual(m["etl.driver_self_s"], 0.65)  # 1000 - [50, 400]
        self.assertAlmostEqual(m["warehousefs.commit_s"], 0.2)
        self.assertEqual(m["warehousefs.jobs"], 1)
        # GC and JIT time of the timed ops only, not of set-up
        self.assertEqual((m["jvm.gc_s"], m["jvm.jit_s"]), (0.25, 0.125))


if __name__ == "__main__":
    unittest.main()
