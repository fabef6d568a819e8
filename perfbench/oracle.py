"""DuckDB oracle check for the query workload's outputs.

Each query's result is written as parquet under <outDir>/<name>/ with the
oracle SQL in <outDir>/oracle_sql.json. The SQL runs in DuckDB over the same
tables, and the two results are compared with tools/check_oracle.py's own
type_drift and canon: no decimal/double type drift, the same column names,
the same row count and equal values with columns sorted by name and floats
rounded to 6 places.
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
import check_oracle  # noqa: E402


def mismatch(con, sql, qdir):
    """Why the Spark output in `qdir` differs from the oracle, or None."""
    if not glob.glob(os.path.join(qdir, "*.parquet")):
        return "no output"
    got = pd.read_parquet(qdir)
    try:
        exp = con.execute(sql).df()
    except Exception as e:  # the oracle itself failed
        return f"oracle sql error: {e}"
    drift = check_oracle.type_drift(got, exp)
    if drift:
        return f"decimal/double type drift: {'; '.join(drift)}"
    got = check_oracle.canon(got).reset_index(drop=True)
    exp = check_oracle.canon(exp).reset_index(drop=True)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    return None if got.equals(exp) else "values differ"


def check(data_dir, out_dir):
    """{query: reason} for every query whose output fails its oracle."""
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for name, sql in sorted(oracle.items()):
        why = mismatch(con, sql, os.path.join(out_dir, name))
        if why:
            bad[name] = why
    con.close()
    return bad
