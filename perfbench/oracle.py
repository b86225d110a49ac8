"""DuckDB oracle check of the harness's query results.

Each query's `SparkEntry.oracleSql` runs in DuckDB over the same generated
tables; the Spark result (parquet, one directory per query) must match it
under the rules of `tools/check.py`: the same column names (compared
sorted), the same Arrow type per column, the same row count, and equal
values row by row in result order (NaN equals NaN).
"""
import glob
import os

import duckdb


def check(data_dir, results_dir, oracle_sql):
    """Return {query: None if it matches, else a one-line reason}."""
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in oracle_sql.items():
        out[name] = _compare(con, sql, os.path.join(results_dir, name))
    con.close()
    return out


def _compare(con, sql, result_dir):
    try:
        exp = con.execute(sql).fetch_arrow_table()
    except Exception as e:  # noqa: BLE001 - any oracle error is a finding
        return f"oracle SQL error: {e}".splitlines()[0]
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return "no Spark result"
    try:
        got = con.execute(
            f"SELECT * FROM read_parquet({[f for f in files]!r})").fetch_arrow_table()
    except Exception as e:  # noqa: BLE001
        return f"Spark result unreadable: {e}".splitlines()[0]
    cols = sorted(exp.column_names)
    if cols != sorted(got.column_names):
        return f"columns differ: oracle={cols} spark={sorted(got.column_names)}"
    exp, got = exp.select(cols), got.select(cols)
    if exp.num_rows != got.num_rows:
        return f"rows differ: oracle={exp.num_rows} spark={got.num_rows}"
    for c in cols:
        et, gt = str(exp.schema.field(c).type), str(got.schema.field(c).type)
        if et != gt:
            return f"{c}: type oracle={et} spark={gt}"
    if all(exp.column(c).equals(got.column(c)) for c in cols):
        return None
    # slow path: find the first differing row, NaN equal to NaN
    for i, (er, gr) in enumerate(zip(exp.to_pylist(), got.to_pylist())):
        for c in cols:
            ev, gv = er[c], gr[c]
            if isinstance(ev, float) and isinstance(gv, float):
                same = ev == gv or (ev != ev and gv != gv)
            else:
                same = ev == gv
            if not same:
                return f"row {i} column {c}: oracle={ev!r} spark={gv!r}"[:300]
    return None
