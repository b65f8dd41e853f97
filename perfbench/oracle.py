"""DuckDB oracle compare for the interactive SQL ops.

The same method as tools/check.py: run each query's oracle SQL in DuckDB
over the generated parquet tables, sort columns by name and rows by
value, then require equal columns, row counts, dtype classes and
bit-equal values (no float tolerance).
"""
import math
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    key = df.copy()
    for c in key.columns:
        if key[c].dtype.kind == "f":
            key[c] = key[c].apply(
                lambda v: float(f"{v:.9g}") if pd.notna(v) else v)
    order = key.sort_values(by=list(key.columns), kind="mergesort").index
    return df.loc[order].reset_index(drop=True)


def kind(dtype):
    return {"i": "int", "u": "int", "f": "float", "b": "bool",
            "M": "datetime", "m": "timedelta"}.get(dtype.kind, "obj")


def same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    return a == b


def mismatch(spark_df, duck_df):
    s, d = canon(spark_df), canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} vs {len(d)}"
    for c in s.columns:
        if kind(s[c].dtype) != kind(d[c].dtype):
            return f"dtype of {c}: {kind(s[c].dtype)} vs {kind(d[c].dtype)}"
        for i, (x, y) in enumerate(zip(s[c], d[c])):
            if not same(x, y):
                return f"{c} row {i}: {x!r} vs {y!r}"
    return None


def compare(data_dir, result_dir, oracle_sql):
    """{query: reason} for every query whose answer differs from DuckDB's."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    fails = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            why = mismatch(pd.read_parquet(os.path.join(result_dir, name)),
                           con.execute(sql).fetchdf())
        except Exception as e:  # an oracle that cannot run is a failure
            why = f"{type(e).__name__}: {e}"
        if why:
            fails[name] = "differs from the DuckDB oracle: " + why
    con.close()
    return fails
