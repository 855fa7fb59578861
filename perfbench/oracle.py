"""Strict, order-insensitive comparison of a Spark result (parquet, read by
pandas/pyarrow) against a DuckDB query, with the rules of the project's
oracle gate: equal column sets, equal dtype kinds per column, and equal
values — floats by bit pattern, never by tolerance.
"""
import numpy as np
import pandas as pd


def _canon_obj(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if v != v:
            return "<nan>"
        return "f" + np.float64(v).tobytes().hex()
    try:
        if pd.isna(v):
            return "<null>"
    except (TypeError, ValueError):
        pass
    return type(v).__name__ + ":" + str(v)


def _canon(s: pd.Series) -> pd.Series:
    k = s.dtype.kind
    if k == "f":
        bits = s.to_numpy(dtype="float64").view("int64").copy()
        bits[np.isnan(s.to_numpy(dtype="float64"))] = np.iinfo("int64").min
        return pd.Series(bits)
    if k in "iub":
        return pd.Series(s.to_numpy().astype("int64"))
    if k in "mM":
        return pd.Series(s.to_numpy().view("int64"))
    return pd.Series([_canon_obj(v) for v in s], dtype=object)


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    out = pd.DataFrame({c: _canon(df[c].reset_index(drop=True)) for c in cols})
    if len(out) == 0:
        return out
    return out.sort_values(by=cols, kind="mergesort").reset_index(drop=True)


def compare(got: pd.DataFrame, exp: pd.DataFrame):
    """Returns None when equal, else a one-line reason."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns differ: spark={sorted(got.columns)} oracle={sorted(exp.columns)}"
    kinds = [(c, got[c].dtype.kind, exp[c].dtype.kind) for c in sorted(got.columns)
             if got[c].dtype.kind != exp[c].dtype.kind]
    if kinds:
        return f"dtype kinds differ: {kinds}"
    if len(got) != len(exp):
        return f"row counts differ: spark={len(got)} oracle={len(exp)}"
    a, b = _norm(got), _norm(exp)
    for c in a.columns:
        if not np.array_equal(a[c].to_numpy(), b[c].to_numpy()):
            return f"values differ in column {c}"
    return None
