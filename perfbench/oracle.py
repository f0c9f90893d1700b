"""Query correctness: each sampled query's result, as the harness dumped it
to parquet, against its `SparkEntry.oracleSql` statement run by DuckDB over
the same fixture files.

`compare` is the exact comparison of the repository's correctness gate
(tools/check.py): columns sorted by name, equal column names and row
counts, equal dtypes (integers of different widths differ, object columns
compare loosely), and equal values with NaN/null matching NaN/null.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

from fixtures import TABLES


def compare(want, got):
    """None when `got` matches `want`, else the first reason it does not."""
    want = want[sorted(want.columns)]
    got = got[sorted(got.columns)]
    if list(want.columns) != list(got.columns):
        return f"columns want={list(want.columns)} got={list(got.columns)}"
    if len(want) != len(got):
        return f"rows want={len(want)} got={len(got)}"
    dtype_bad = [f"{c}: want={want[c].dtype} got={got[c].dtype}" for c in want.columns
                 if want[c].dtype != got[c].dtype
                 and not (want[c].dtype.kind == "O" and got[c].dtype.kind == "O")]
    if dtype_bad:
        return "dtypes differ: " + "; ".join(dtype_bad)
    bad = []
    for c in want.columns:
        w, g = want[c].values, got[c].values
        if w.dtype.kind == "f" or g.dtype.kind == "f":
            eq = (pd.isna(w) & pd.isna(g)) | (w == g)
        else:
            eq = (pd.isna(w) & pd.isna(g)) | pd.Series(w).eq(pd.Series(g)).values
        if not eq.all():
            i = int(np.argmin(eq))
            bad.append(f"{c}[row {i}]: want={w[i]!r} got={g[i]!r} ({int((~eq).sum())} diffs)")
    return "; ".join(bad[:3]) or None


def check_queries(fixture_dir, results_dir, sql_by_name, dump_errors, threads):
    """Map each query name to None (correct) or the reason it failed."""
    con = duckdb.connect(config={"threads": threads})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
    verdict = {}
    for name, err in sorted(dump_errors.items()):
        if err:
            verdict[name] = f"query threw: {err}"
            continue
        if name not in sql_by_name:
            verdict[name] = "no oracle statement"
            continue
        try:
            want = con.sql(sql_by_name[name]).df()
        except duckdb.Error as e:
            verdict[name] = f"oracle error: {e}"
            continue
        path = os.path.join(results_dir, name)
        if not glob.glob(f"{path}/*.parquet"):
            verdict[name] = "no result files"
            continue
        verdict[name] = compare(want, pd.read_parquet(path))
    con.close()
    return verdict
