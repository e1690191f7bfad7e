"""Order-insensitive comparison of program outputs against DuckDB.

The expected outputs come from ``prepare.py``: ``__spark_entry__.oracle_sql()``
run with DuckDB over the same generated parquet the program read. The
canonical form and the
comparison follow the repository's correctness gate: columns sorted by
name, dtypes normalised, rows sorted, exact equality (the engine rounds
and formats every value that could legitimately differ between engines).
"""

from __future__ import annotations

import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        else:
            df[c] = s.astype(object).where(s.notna(), None)
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="first")


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want`` as a multiset of rows, else a
    one-line description of the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} expected"
    a, b = canon(got), canon(want)
    neq = (a.fillna("\x00") != b.fillna("\x00")).any(axis=1)
    if neq.any():
        i = neq.idxmax()
        return f"{int(neq.sum())}/{len(a)} rows differ, first {a.loc[i].to_dict()}"
    return None
