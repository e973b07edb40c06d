"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

Covers the seeded generator, the oracle comparison, the tail-percentile
rule and span self time (graft.perfbench.SelfTest), and that a spoiled
oracle result is counted as a failed operation, so the output checks are
not vacuous.
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def digest(directory):
    """sha256 of every parquet file under `directory`, by relative path."""
    out = {}
    for root, _, files in os.walk(directory):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, directory)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def jvm(*args):
    jars = run.spark_jars()
    run.build(jars)
    cp = os.pathsep.join([run.CLASSES, os.path.join(jars, "*")])
    return subprocess.run(["java", "-cp", cp, *args], capture_output=True, text=True)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for workload in gen.GENERATORS:
            with self.subTest(workload=workload), tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                gen.generate(workload, 11, 6, a)
                gen.generate(workload, 11, 6, b)
                gen.generate(workload, 12, 6, c)
                da, db, dc = digest(a), digest(b), digest(c)
                self.assertTrue(da)
                self.assertEqual(da, db)
                self.assertEqual(set(da), set(dc))
                self.assertTrue(all(da[k] != dc[k] for k in da if "nation" not in k
                                    and "region" not in k))

    def test_work_grows_with_seconds(self):
        with tempfile.TemporaryDirectory() as t:
            short = gen.generate("etl_monthly", 1, 6, os.path.join(t, "s"))
            long = gen.generate("etl_monthly", 1, 60, os.path.join(t, "l"))
            self.assertEqual(short["rounds"], gen.MIN_ROUNDS)
            self.assertLess(short["rounds"], long["rounds"])
            short = gen.generate("corpus_curation", 1, 6, os.path.join(t, "cs"))
            long = gen.generate("corpus_curation", 1, 30, os.path.join(t, "cl"))
            self.assertLess(short["attach_passes"], long["attach_passes"])

    def test_month_slices_use_disjoint_order_keys(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as t:
            m = gen.generate("etl_monthly", 3, 20, t)
            keys = [set(pq.read_table(os.path.join(s["dir"], "lineitem.parquet"))
                        .column("l_orderkey").to_pylist()) for s in m["slices"]]
            for i in range(len(keys)):
                for j in range(i + 1, len(keys)):
                    self.assertFalse(keys[i] & keys[j])


class OracleTest(unittest.TestCase):
    def serve(self, requests, corrupt=False):
        answers = []
        oracle.serve([json.dumps(r) for r in requests], answers.append, corrupt)
        return answers

    def test_compare_ignores_row_order_and_catches_values(self):
        import pandas as pd
        with tempfile.TemporaryDirectory() as t:
            data = os.path.join(t, "data.parquet")
            pd.DataFrame({"k": [3, 1, 2], "v": ["c", "a", "b"]}).to_parquet(data)
            right, wrong = os.path.join(t, "right"), os.path.join(t, "wrong")
            os.makedirs(right)
            os.makedirs(wrong)
            pd.DataFrame({"v": ["a", "b", "c"], "k": [1, 2, 3]}).to_parquet(os.path.join(right, "p.parquet"))
            pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "x"]}).to_parquet(os.path.join(wrong, "p.parquet"))
            twins = {"twins": [{"views": {"t": data}, "queries": {
                "q": "SELECT k, v FROM t ORDER BY k DESC", "bad": "SELECT nope FROM t"}}]}
            answers = self.serve([twins, {"compare": "q", "path": right},
                                  {"compare": "q", "path": wrong},
                                  {"compare": "bad", "path": right}])
            self.assertEqual(answers[0], {"done": 2})
            self.assertTrue(answers[1]["ok"], answers[1])
            self.assertFalse(answers[2]["ok"])
            self.assertFalse(answers[3]["ok"])
            self.assertIn("oracle twin failed", answers[3]["msg"])
            spoiled = self.serve([twins, {"compare": "q", "path": right}], corrupt=True)
            self.assertFalse(spoiled[1]["ok"])

    def test_unorderable_values_compare_by_their_printed_form(self):
        import numpy as np
        import pandas as pd
        a = pd.DataFrame({"k": [2, 1], "arr": [np.array([3.0, 4.0]), np.array([1.0, 2.0])]})
        b = pd.DataFrame({"arr": [np.array([1.0, 2.0]), np.array([3.0, 4.0])], "k": [1, 2]})
        self.assertTrue(oracle.compare(a, b)[0])
        self.assertFalse(oracle.compare(a, b.assign(k=[1, 3]))[0])


class JvmSelfTest(unittest.TestCase):
    def test_tail_rule_and_self_time(self):
        r = jvm("graft.perfbench.SelfTest")
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)


class OutputCheckTest(unittest.TestCase):
    def test_spoiled_oracle_results_fail_operations(self):
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                            "--workload", "etl_monthly", "--seed", "5", "--seconds", "6",
                            "--trace", "0", "--corrupt-oracle"],
                           capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        lines = r.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        report = json.loads(lines[-2].split(" ", 2)[2])
        self.assertGreater(report["ops_failed_ratio"]["value"], 0.0)


if __name__ == "__main__":
    unittest.main()
