"""Result checks for the benchmark, run outside the timed loop.

Each result is compared against DuckDB running the query's oracle SQL over
the same parquet tables, the way tools/check_oracle.py does it: columns
sorted by name, rows sorted by every column, exact values, and the same
dtype class per column. Every query of the workloads has oracle SQL that
reads only the tables; one without (no SQL, or SQL that reads files the
engine wrote under its per-process scratch root) fails its check.
"""
import glob
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

KLASS = {"i": "int", "u": "int", "f": "float", "b": "bool",
         "M": "datetime", "m": "timedelta",
         "O": "object", "S": "object", "U": "object"}


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{data_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def read_result(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise ValueError("no result written")
    return pd.concat([pq.read_table(f).to_pandas() for f in files],
                     ignore_index=True)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) == 0:
        return df
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(got, want):
    """None when the frames are equal as the oracle gate defines it, else why
    they differ."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values differ: " + str(e).splitlines()[0][:200]
    skew = [c for c in g.columns
            if KLASS.get(g[c].dtype.kind, g[c].dtype.kind)
            != KLASS.get(w[c].dtype.kind, w[c].dtype.kind)]
    if skew:
        return f"dtype class differs on {skew}"
    return None


def check_all(data_dir, check_dir, checks):
    """Map each checked query name to None (correct) or the reason it is not.
    `checks` is the harness's list of {"name", "error", "sql"}."""
    con = connect(data_dir)
    out = {}
    for c in checks:
        name = c["name"]
        if c["error"]:
            out[name] = "threw: " + c["error"]
        elif not c["sql"]:
            out[name] = "no oracle SQL over the tables"
        else:
            try:
                out[name] = compare(read_result(os.path.join(check_dir, name)),
                                    con.execute(c["sql"]).df())
            except Exception as e:  # a broken oracle or result is a failed check
                out[name] = f"{type(e).__name__}: {e}"
    return out
