"""Output check against DuckDB: runs each oracle key's SQL
(`SparkEntry.oracleSql`) over the generated input and compares it with
the rows graft returned on the first pass.

The canonicalisation is a copy of graft's `tools/verify_local.py`:
columns sorted by name, rows sorted, dtypes normalised, values compared
exactly. One addition: a DATE column read from parquet arrives as
`datetime.date` objects while DuckDB returns datetime64, so date
objects are converted to datetime64 before the compare.
"""
import datetime
import glob
import os

import duckdb
import pandas as pd

pd.set_option("future.no_silent_downcasting", True)

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if s.dtype == object and len(s.dropna()) and all(
                type(v) is datetime.date for v in s.dropna()):
            s = pd.to_datetime(s)
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(got, exp):
    """None when equal, else a one-line reason."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    bad = []
    for c in g.columns:
        a, b = g[c], e[c]
        if pd.api.types.is_float_dtype(a):
            eq = (a.fillna(-1e308) == b.fillna(-1e308)).all()
        else:
            eq = a.astype("object").fillna("\x00").eq(b.astype("object").fillna("\x00")).all()
        if not eq:
            bad.append(c)
    return f"values differ in {bad}" if bad else None


def oracle_check(input_dir, oracle_sql, dumps):
    """{key: None or reason} for every oracle key."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(input_dir, t + '.parquet')}')")
    out = {}
    for key, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(dumps[key], "*.parquet"))
        if not files:
            out[key] = "no output"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        try:
            exp = con.execute(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            out[key] = f"oracle sql failed: {e}"
            continue
        out[key] = compare(got, exp)
    con.close()
    return out
