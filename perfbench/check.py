"""Output checks that need an independent engine.

The JVM checks every timed operation against the reference answer its
set-up recorded (and `ra_doors` checks the two doors against each
other). Here the reference answers themselves are checked against
DuckDB over the same generated tables, with the canonicalization of
tools/check_oracle.py (imported from there): columns sorted by name,
values stringified, float columns of the Spark side rounded to 6
significant digits, rows sorted, then compared as multisets.
"""
import glob
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check_oracle import canon  # noqa: E402


def compare(got, exp, rows_only=False):
    """None when `got` (Spark) matches `exp` (DuckDB), else the reason."""
    if len(got) != len(exp):
        return f"row count {len(got)} != oracle {len(exp)}"
    if rows_only:
        return None
    float_cols = {c for c in got.columns
                  if pd.api.types.is_float_dtype(got[c])}
    g, e = canon(got, float_cols), canon(exp, float_cols)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != oracle {list(e.columns)}"
    if not g.equals(e):
        i = (g != e).any(axis=1).idxmax()
        return (f"value mismatch at row {i}: {g.loc[i].to_dict()} "
                f"!= oracle {e.loc[i].to_dict()}")
    return None


def _read_dump(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files],
                     ignore_index=True)


def outputs(workload, plan, data_dir, res, run_dir):
    """{operation key: reason} for every reference answer DuckDB rejects."""
    if workload == "ra_doors":
        checks = {q["id"]: (q["sql"], False) for q in plan["queries"]}
    elif workload == "contract_store_stream":
        oracle = res["extra"]["oracle"]
        rows_only = set(res["extra"]["rows_only"])
        checks = {n: (oracle.get(n), n in rows_only) for n in plan["queries"]}
    else:
        return {}
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    wrong = {}
    for key, (sql, rows_only) in checks.items():
        got = _read_dump(os.path.join(run_dir, "dumps", key))
        if got is None:
            wrong[key] = "no reference answer was written"
            continue
        if sql is None:
            if not rows_only:
                wrong[key] = "no oracle SQL"
            continue
        try:
            exp = con.execute(sql).df()
        except duckdb.Error as e:
            wrong[key] = f"oracle SQL failed: {e}"
            continue
        why = compare(got, exp, rows_only)
        if why:
            wrong[key] = why
    return wrong
