"""Output check: every call's Spark output against its DuckDB oracle.

The rules are those of the repository's oracle gate
(`tools/check_oracle.py`): columns sorted by name, rows sorted by every
column, values compared exactly, and the dtype kind of each column must
agree (an int/float pair passes only when the float side carries nulls
and is integral elsewhere). CTEs are rewritten to `AS MATERIALIZED`, as
`graft.Verify` does when it emits the oracle SQL. The expected frame of
each (input, query) is computed once and cached as a pickle.
"""
import glob
import os
import re

import duckdb
import pandas as pd

from gen import TABLES

_CTE = re.compile(r"(?<!WINDOW )\b([A-Za-z_][A-Za-z0-9_]*) AS \(")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def expected(input_dir: str, sql: str, cache: str) -> pd.DataFrame:
    if os.path.exists(cache):
        return pd.read_pickle(cache)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{p}/*.parquet')")
    want = canon(con.execute(_CTE.sub(r"\1 AS MATERIALIZED (", sql)).df())
    con.close()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    want.to_pickle(cache + ".tmp")
    os.replace(cache + ".tmp", cache)
    return want


def _kind_ok(a: pd.Series, b: pd.Series) -> bool:
    if a.dtype.kind == b.dtype.kind:
        return True
    if {a.dtype.kind, b.dtype.kind} == {"i", "f"}:
        f = a if a.dtype.kind == "f" else b
        if not f.isna().any():
            return False
        nn = f.dropna()
        return bool((nn == nn.round()).all())
    return False


def check(spark_dir: str, want: pd.DataFrame) -> str:
    """'' when the Spark output in `spark_dir` matches, else the reason."""
    if not glob.glob(os.path.join(spark_dir, "*.parquet")):
        return "no spark output"
    got = canon(pd.read_parquet(spark_dir))
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return str(e).splitlines()[-1]
    bad = [c for c in got.columns if not _kind_ok(got[c], want[c])]
    return f"dtype kind of {bad}" if bad else ""
