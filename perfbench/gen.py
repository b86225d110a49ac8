#!/usr/bin/env python3
"""Seeded generator for the ten fixture tables the program reads.

    python3 perfbench/gen.py OUT_DIR --seed N [--scale K]
    python3 perfbench/gen.py --measure DIR      # print per-column statistics

The tables, their Arrow types and their value domains follow the sf0.1 test
fixtures (see FIXTURES.md; the pinned Spark types are in
FixtureContractSpec). `--scale K` multiplies every row count except the fixed
`nation` and `region` dimensions; key domains (orders, customers, parts,
suppliers, users) grow with their tables so per-key grain stays as at sf0.1:
~4 lines per order, ~67 events per user, 5% near-duplicate documents.
Foreign keys and all values are drawn from the seed; the same seed gives
byte-identical tables.

The per-column statistics measured from the sf0.1 fixtures are stored in
`reference_stats.json` next to this file; `tests/test_gen.py` holds the
generator to them.
"""
import argparse
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts; scaled by --scale (nation and region stay fixed)
BASE_ROWS = {"lineitem": 600_000, "orders": 150_000, "customer": 15_000,
             "part": 20_000, "supplier": 1_000, "events": 100_000,
             "documents": 5_000, "embeddings": 2_000}
USERS_PER_SCALE = 1_500

TS_US = pa.timestamp("us")
SCHEMAS = {
    "lineitem": pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", TS_US)]),
    "orders": pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", TS_US), ("o_orderpriority", pa.string())]),
    "customer": pa.schema([
        ("c_custkey", pa.int64()), ("c_name", pa.string()),
        ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string())]),
    "part": pa.schema([
        ("p_partkey", pa.int64()), ("p_name", pa.string()),
        ("p_brand", pa.string()), ("p_type", pa.string()),
        ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
    "supplier": pa.schema([
        ("s_suppkey", pa.int64()), ("s_name", pa.string()),
        ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
    "nation": pa.schema([
        ("n_nationkey", pa.int32()), ("n_name", pa.string()),
        ("n_regionkey", pa.int32())]),
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "events": pa.schema([
        ("event_id", pa.int64()), ("ts", TS_US), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()),
        ("props", pa.string())]),
    "documents": pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]),
    "embeddings": pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32())]),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.412, 0.147, 0.147, 0.147, 0.147]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DUP_SHARE = 0.05            # documents that copy another text + " dup"
EMB_DIM = 64

EPOCH = dt.datetime(1970, 1, 1)
DAY_US = 86_400_000_000


def _us(y, m, d):
    return int((dt.datetime(y, m, d) - EPOCH).total_seconds()) * 1_000_000


def _days(rng, n, lo, hi):
    """Midnight timestamps (µs) uniform over the days [lo, hi]."""
    span = (hi - lo) // DAY_US + 1
    return lo + rng.integers(0, span, n) * DAY_US


def _cents(rng, n, lo, hi):
    """Two-decimal doubles uniform over [lo, hi] (bounds in cents)."""
    return rng.integers(lo, hi + 1, n) / 100.0


def _pick(rng, values, n, p=None):
    idx = rng.choice(len(values), n, p=p) if p else rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _table(name, cols):
    schema = SCHEMAS[name]
    return pa.Table.from_arrays(
        [pa.array(cols[f.name], f.type) if not isinstance(cols[f.name], pa.Array)
         else cols[f.name].cast(f.type) for f in schema], schema=schema)


def _keyed_names(prefix, n):
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)])


def generate(out_dir, seed, scale=1):
    """Write the ten tables as `<out_dir>/<table>.parquet`."""
    # one independent stream per table: adding a column to one table never
    # shifts another table's values
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(SCHEMAS)}
    rows = {t: max(1, round(n * scale)) for t, n in BASE_ROWS.items()}
    n_users = max(1, round(USERS_PER_SCALE * scale))
    os.makedirs(out_dir, exist_ok=True)
    tables = {}

    r, n = rngs["lineitem"], rows["lineitem"]
    tables["lineitem"] = _table("lineitem", {
        "l_orderkey": r.integers(0, rows["orders"], n),
        "l_partkey": r.integers(0, rows["part"], n),
        "l_suppkey": r.integers(0, rows["supplier"], n),
        "l_linenumber": r.integers(1, 8, n).astype(np.int32),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _cents(r, n, 90_068, 10_499_991),
        # rounded continuous draws: the end points carry half weight
        "l_discount": np.rint(r.uniform(0, 10, n)) / 100.0,
        "l_tax": np.rint(r.uniform(0, 8, n)) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], n),
        "l_linestatus": _pick(r, ["F", "O"], n),
        "l_shipdate": _days(r, n, _us(1995, 1, 2), _us(2001, 11, 4)),
    })

    r, n = rngs["orders"], rows["orders"]
    tables["orders"] = _table("orders", {
        "o_orderkey": np.arange(n),
        "o_custkey": r.integers(0, rows["customer"], n),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n),
        "o_totalprice": _cents(r, n, 100_191, 49_999_318),
        "o_orderdate": _days(r, n, _us(1995, 1, 1), _us(2001, 8, 1)),
        "o_orderpriority": _pick(r, PRIORITIES, n),
    })

    r, n = rngs["customer"], rows["customer"]
    tables["customer"] = _table("customer", {
        "c_custkey": np.arange(n),
        "c_name": _keyed_names("Customer", n),
        "c_nationkey": r.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _cents(r, n, -99_985, 999_980),
        "c_mktsegment": _pick(r, SEGMENTS, n),
    })

    r, n = rngs["part"], rows["part"]
    keys = np.arange(n)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = _table("part", {
        "p_partkey": keys,
        "p_name": _pick(r, names, n),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(r, PART_TYPES, n),
        "p_size": r.integers(1, 51, n).astype(np.int32),
        "p_retailprice": (9000 + keys % 1000) / 10.0,
    })

    r, n = rngs["supplier"], rows["supplier"]
    tables["supplier"] = _table("supplier", {
        "s_suppkey": np.arange(n),
        "s_name": _keyed_names("Supplier", n),
        "s_nationkey": r.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _cents(r, n, -97_602, 998_803),
    })

    tables["nation"] = _table("nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    tables["region"] = _table("region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})

    # events: a ts-ordered log over 30 days; event_id follows ts order
    r, n = rngs["events"], rows["events"]
    lo = _us(2024, 1, 1)
    ts = np.sort(r.integers(lo, lo + 30 * DAY_US, n))
    tables["events"] = _table("events", {
        "event_id": np.arange(n),
        "ts": ts,
        "user_id": r.integers(0, n_users, n),
        "event_type": _pick(r, EVENT_TYPES, n),
        "value": np.round(r.exponential(50.0, n), 2),
        "props": _pick(r, [f'{{"k": {k}}}' for k in range(100)], n),
    })

    # documents: word soup of 10-100 words; DUP_SHARE of them copy another
    # (non-copy) document's text and append " dup"
    r, n = rngs["documents"], rows["documents"]
    n_words = r.integers(10, 101, n)
    words = np.array(VOCAB)[r.integers(0, len(VOCAB), int(n_words.sum()))]
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    is_dup = r.random(n) < DUP_SHARE
    originals = np.flatnonzero(~is_dup)
    for i, src in zip(np.flatnonzero(is_dup),
                      r.choice(originals, int(is_dup.sum()))):
        texts[i] = texts[src] + " dup"
    tables["documents"] = _table("documents", {
        "doc_id": np.arange(n),
        "text": texts,
        "lang": _pick(r, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    # embeddings: unit-norm 64-d float vectors, 10 uniform labels
    r, n = rngs["embeddings"], rows["embeddings"]
    v = r.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)),
        pa.array(v.reshape(-1), pa.float32()))
    tables["embeddings"] = _table("embeddings", {
        "vec_id": np.arange(n), "embedding": emb,
        "label": r.integers(0, 10, n).astype(np.int32)})

    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def measure(data_dir):
    """Row count plus per-column min/max/mean/std (numbers and timestamps,
    as epoch seconds) or distinct count and mean length (strings)."""
    import duckdb
    con = duckdb.connect()
    out = {}
    for name, schema in SCHEMAS.items():
        src = f"read_parquet('{os.path.join(data_dir, name + '.parquet')}')"
        cols = {}
        for f in schema:
            c = f'"{f.name}"'
            if pa.types.is_list(f.type):
                sql = (f"SELECT count(*), min(len({c})), max(len({c})), "
                       f"avg(list_aggregate({c}, 'sum')), "
                       f"stddev_pop(list_aggregate({c}, 'sum')) FROM {src}")
                n, lo, hi, mean, sd = con.execute(sql).fetchone()
                cols[f.name] = {"min_len": lo, "max_len": hi,
                                "sum_mean": mean, "sum_std": sd}
                continue
            if pa.types.is_string(f.type):
                d, ml = con.execute(f"SELECT count(DISTINCT {c}), avg(len({c})) "
                                    f"FROM {src}").fetchone()
                cols[f.name] = {"distinct": d, "mean_len": ml}
                continue
            x = f"epoch({c})" if pa.types.is_timestamp(f.type) else c
            lo, hi, mean, sd = con.execute(
                f"SELECT min({x}), max({x}), avg({x}), stddev_pop({x}) "
                f"FROM {src}").fetchone()
            cols[f.name] = {"min": float(lo), "max": float(hi),
                            "mean": float(mean), "std": float(sd)}
        n = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
        out[name] = {"rows": n, "columns": cols}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("out_dir", nargs="?")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--scale", type=float, default=1)
    ap.add_argument("--measure", metavar="DIR")
    a = ap.parse_args()
    if a.measure:
        json.dump(measure(a.measure), sys.stdout, indent=1, sort_keys=True)
        print()
    elif a.out_dir:
        print(json.dumps(generate(a.out_dir, a.seed, a.scale)))
    else:
        ap.error("give OUT_DIR or --measure DIR")


if __name__ == "__main__":
    main()
