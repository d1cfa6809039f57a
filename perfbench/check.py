"""Output checks for the batch workloads.

A query that carries oracle SQL is checked against DuckDB over the same
parquet tables, with the rules of the project's oracle gate: column
names, row count, then values with columns sorted by name and rows
sorted by every column; floats must match exactly or, failing that,
within 1e-9 relative. Every query the workloads list carries oracle
SQL; one without it fails its check, so a query can only join a list
together with a reference to check it against.
"""
import datetime
import glob
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df):
    import numpy as np
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            nonnull = df[c].dropna()
            if len(nonnull) and all(isinstance(v, datetime.date)
                                    and not isinstance(v, datetime.datetime)
                                    for v in nonnull):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
            else:
                df[c] = df[c].apply(
                    lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _read(out):
    import pandas as pd
    if not glob.glob(os.path.join(out, "*.parquet")):
        raise FileNotFoundError(f"no result written at {out}")
    return _norm(pd.read_parquet(out))


def _compare(got, want):
    """Empty string when equal, else the first difference."""
    import numpy as np
    if list(got.columns) != list(want.columns):
        return f"columns got={list(got.columns)} want={list(want.columns)}"
    if len(got) != len(want):
        return f"rows got={len(got)} want={len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if g.dtype.kind != w.dtype.kind:
            return f"{c}: dtype got={g.dtype} want={w.dtype}"
        if g.dtype.kind == "f":
            g, w = g.astype(float), w.astype(float)
            exact = (g == w) | (g.isna() & w.isna())
            if not exact.all():
                close = np.isclose(g, w, rtol=1e-9, atol=1e-12, equal_nan=True)
                if not close.all():
                    i = int(np.argmax(~close))
                    return f"{c}: row {i} got={g.iloc[i]} want={w.iloc[i]}"
        else:
            eq = (g == w) | (g.isna() & w.isna())
            if not eq.all():
                i = int(np.argmax(~eq.values))
                return f"{c}: row {i} got={g.iloc[i]!r} want={w.iloc[i]!r}"
    return ""


def run_checks(checks, data_dir):
    """Returns {query: "" or reason} for every checked query."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, t + ".parquet")
        if os.path.isdir(path):  # Spark writes a table as a directory
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    verdicts = {}
    for c in checks:
        name = c["query"]
        try:
            if not c["oracle"]:
                verdicts[name] = "no oracle SQL to check against"
            else:
                verdicts[name] = _compare(_read(c["out"]), _norm(con.sql(c["oracle"]).df()))
        except Exception as e:  # a failed read or oracle query fails the check
            verdicts[name] = f"{type(e).__name__}: {e}"
    return verdicts
