"""Self-test of the benchmark's fixture generator.

    python3 perfbench/tests/test_gen.py

Checks that generated tables carry exactly the Arrow types of the fixture
contract, that row counts and per-column statistics stay within stated
tolerances of the sf0.1 measurements in `reference_stats.json`, and that the
seed alone decides the data.
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402

# The Spark read types FixtureContractSpec pins, as Arrow types
# (timestamp_ntz <- timestamp[us], array<float> <- list<float>).
CONTRACT = {
    "lineitem": "l_orderkey:int64 l_partkey:int64 l_suppkey:int64 "
                "l_linenumber:int32 l_quantity:double l_extendedprice:double "
                "l_discount:double l_tax:double l_returnflag:string "
                "l_linestatus:string l_shipdate:timestamp[us]",
    "orders": "o_orderkey:int64 o_custkey:int64 o_orderstatus:string "
              "o_totalprice:double o_orderdate:timestamp[us] "
              "o_orderpriority:string",
    "customer": "c_custkey:int64 c_name:string c_nationkey:int32 "
                "c_acctbal:double c_mktsegment:string",
    "part": "p_partkey:int64 p_name:string p_brand:string p_type:string "
            "p_size:int32 p_retailprice:double",
    "supplier": "s_suppkey:int64 s_name:string s_nationkey:int32 "
                "s_acctbal:double",
    "nation": "n_nationkey:int32 n_name:string n_regionkey:int32",
    "region": "r_regionkey:int32 r_name:string",
    "events": "event_id:int64 ts:timestamp[us] user_id:int64 "
              "event_type:string value:double props:string",
    "documents": "doc_id:int64 text:string lang:string source:string "
                 "n_chars:int64",
    "embeddings": "vec_id:int64 embedding:list<element: float> label:int32",
}

# Tolerances against the sf0.1 measurements (scale 1):
#   rows exact; min and max within 1% of the column's range; mean within 2%
#   of the range; std within 5%; string distinct counts within 5% (exact
#   below 100 values); mean string length within 5%.
#   events.value is exponential, so its max is a tail draw: 10% of range.
RANGE_EDGE, RANGE_MEAN, REL_STD, REL_DISTINCT, REL_LEN = 0.01, 0.02, 0.05, 0.05, 0.05
TAIL_EDGE = {"events.value": 0.10}


def _digest(d):
    h = hashlib.sha256()
    for name in sorted(gen.SCHEMAS):
        with open(os.path.join(d, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        for tag, seed in (("a", 11), ("a2", 11), ("b", 12)):
            cls.dirs[tag] = os.path.join(cls.tmp.name, tag)
            gen.generate(cls.dirs[tag], seed)
        with open(os.path.join(os.path.dirname(HERE), "reference_stats.json")) as f:
            cls.ref = json.load(f)
        cls.got = gen.measure(cls.dirs["a"])

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_arrow_types_match_contract(self):
        for name, want in CONTRACT.items():
            schema = pq.read_schema(os.path.join(self.dirs["a"], f"{name}.parquet"))
            got = " ".join(f"{f.name}:{f.type}" for f in schema)
            self.assertEqual(got, want, name)

    def test_statistics_within_tolerance(self):
        for name, ref in self.ref.items():
            got = self.got[name]
            self.assertEqual(got["rows"], ref["rows"], name)
            for col, r in ref["columns"].items():
                g, where = got["columns"][col], f"{name}.{col}"
                if "distinct" in r:
                    tol = 0 if r["distinct"] < 100 else REL_DISTINCT * r["distinct"]
                    self.assertLessEqual(abs(g["distinct"] - r["distinct"]), tol, where)
                    self.assertLessEqual(abs(g["mean_len"] - r["mean_len"]),
                                         REL_LEN * r["mean_len"], where)
                elif "min_len" in r:
                    self.assertEqual((g["min_len"], g["max_len"]),
                                     (r["min_len"], r["max_len"]), where)
                    self.assertLessEqual(abs(g["sum_std"] - r["sum_std"]),
                                         REL_STD * 2 * r["sum_std"], where)
                else:
                    span = max(r["max"] - r["min"], 1e-9)
                    self.assertLessEqual(abs(g["min"] - r["min"]), RANGE_EDGE * span, where)
                    self.assertLessEqual(abs(g["max"] - r["max"]),
                                         TAIL_EDGE.get(where, RANGE_EDGE) * span, where)
                    self.assertLessEqual(abs(g["mean"] - r["mean"]), RANGE_MEAN * span, where)
                    self.assertLessEqual(abs(g["std"] - r["std"]), REL_STD * max(r["std"], 1e-9), where)

    def test_seed_decides_data(self):
        self.assertEqual(_digest(self.dirs["a"]), _digest(self.dirs["a2"]))
        for name in gen.SCHEMAS:
            if name in ("nation", "region"):
                continue  # fixed dimensions
            a = pq.read_table(os.path.join(self.dirs["a"], f"{name}.parquet"))
            b = pq.read_table(os.path.join(self.dirs["b"], f"{name}.parquet"))
            self.assertFalse(a.equals(b), f"{name} identical across seeds")


if __name__ == "__main__":
    unittest.main()
