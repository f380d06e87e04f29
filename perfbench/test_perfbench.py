"""Tests of the benchmark itself (not of the program).

    python3 -m unittest perfbench/test_perfbench.py

The end-to-end test starts the JVM (and builds on first use), so it
takes about a minute; the others run in seconds.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

with open(os.path.join(HERE, "contract_pairs.json")) as fh:
    PAIRS = json.load(fh)["pairs"]


def _inputs(seed, out):
    """Every generated input of every workload for `seed`, as
    {relative file: arrow table} plus the plans."""
    gen.write_tables(os.path.join(out, "sf0.01"), 0.01, seed)
    gen.write_stream_inputs(os.path.join(out, "stream"), seed)
    tables = {}
    for d, _, fs in os.walk(out):
        for f in fs:
            p = os.path.join(d, f)
            tables[os.path.relpath(p, out)] = pq.read_table(p)
    plans = {w: gen.plan(w, seed, PAIRS) for w in
             ("ra_doors", "contract_store_stream")}
    return tables, plans


class SeedTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.a = _inputs(7, os.path.join(cls.tmp.name, "a"))
        cls.b = _inputs(7, os.path.join(cls.tmp.name, "b"))
        cls.c = _inputs(8, os.path.join(cls.tmp.name, "c"))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_same_inputs(self):
        (ta, pa_), (tb, pb) = self.a, self.b
        self.assertEqual(sorted(ta), sorted(tb))
        for k in ta:
            self.assertTrue(ta[k].equals(tb[k]), k)
        self.assertEqual(pa_, pb)

    def test_other_seed_other_inputs(self):
        (ta, pa_), (tc, pc) = self.a, self.c
        for k in ("sf0.01/lineitem.parquet", "sf0.01/documents.parquet",
                  "sf0.01/embeddings.parquet", "stream/events/part-0000.parquet",
                  "stream/docs/part-0000.parquet"):
            self.assertFalse(ta[k].equals(tc[k]), k)
        for w in ("ra_doors", "contract_store_stream"):
            self.assertNotEqual(pa_[w], pc[w], w)

    def test_contract_sample_keeps_size_and_family_share(self):
        for seed in range(20):
            s = gen.contract_sample(seed, PAIRS)
            self.assertEqual(len(s), len(PAIRS))
            for p in PAIRS:
                self.assertEqual(len(set(p) & set(s)), 1, p)

    def test_stream_copies_stay_inside_the_dedup_watermark(self):
        docs = self.a[0]
        texts = []
        for f in sorted(k for k in docs if k.startswith("stream/docs/")):
            texts += docs[f].column("text").to_pylist()
        first = {}
        for i, t in enumerate(texts):
            first.setdefault(t, i)
            self.assertLessEqual(i - first[t], 50)


class CheckTest(unittest.TestCase):
    def test_wrong_reference_answer_is_caught(self):
        with tempfile.TemporaryDirectory() as tmp:
            data = os.path.join(tmp, "data")
            gen.write_tables(data, 0.01, 3, gen.TPCH)
            plan = gen.plan("ra_doors", 3)
            import duckdb
            con = duckdb.connect()
            for t in gen.TPCH:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{data}/{t}.parquet')")
            planted = None
            for q in plan["queries"]:
                df = con.execute(q["sql"]).df()
                if planted is None and len(df):
                    planted, df = q["id"], df.iloc[1:]  # a wrong answer
                d = os.path.join(tmp, "dumps", q["id"])
                os.makedirs(d)
                df.to_parquet(os.path.join(d, "part-0.parquet"))
            wrong = check.outputs("ra_doors", plan, data, {}, tmp)
            self.assertEqual(list(wrong), [planted])

    def test_float_rounding_only_on_float_columns(self):
        got = pd.DataFrame({"a": [1.0000001], "b": ["x"]})
        exp = pd.DataFrame({"a": [1.0], "b": ["x"]})
        self.assertIsNone(check.compare(got, exp))
        self.assertIsNotNone(check.compare(got, pd.DataFrame(
            {"a": [1.0], "b": ["y"]})))


class EndToEndTest(unittest.TestCase):
    def test_planted_wrong_result_fails_the_run(self):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             "ra_doors", "--seed", "1", "--seconds", "2", "--plant-wrong"],
            cwd=os.path.dirname(HERE), capture_output=True, text=True,
            timeout=900)
        self.assertNotEqual(p.returncode, 0, p.stderr[-2000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertGreater(res["attempted"], res["failed"])


if __name__ == "__main__":
    unittest.main()
