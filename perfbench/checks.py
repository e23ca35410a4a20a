"""Output checks: an order-insensitive value hash of a result table.

Spark results (``toPandas``) and DuckDB oracle results (``.df()``) are
brought to one canonical form per cell, following the rules of the
engine's correctness harness: integers and floats as doubles rounded to
12 significant digits (what its ``%.12g`` keeps), timestamps as
microseconds since the epoch, NULL/NaN/NaT as one marker per type. The
hash is taken over the sorted row hashes, so row order does not matter.
"""

from __future__ import annotations

import hashlib
import os
from decimal import Decimal

import numpy as np
import pandas as pd

NULL = "\x00null"
NULL_NUM = -1.2345e308  # NULL in numeric columns


def _round_sig(x: np.ndarray, digits: int = 12) -> np.ndarray:
    """Round to ``digits`` significant digits, like ``%.12g`` does."""
    out = x.copy()
    nz = np.isfinite(x) & (x != 0)
    mag = np.floor(np.log10(np.abs(x[nz])))
    scale = 10.0 ** (digits - 1 - mag)
    out[nz] = np.round(x[nz] * scale) / scale
    return out + 0.0  # -0.0 -> 0.0


def _canon_column(s: pd.Series) -> pd.Series:
    null = s.isna().to_numpy()
    if pd.api.types.is_bool_dtype(s):
        return pd.Series(np.where(null, -1, s.fillna(False).to_numpy(dtype=bool).astype(np.int8)))
    if pd.api.types.is_datetime64_any_dtype(s):
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        us = s.astype("datetime64[us]").astype("int64").to_numpy()
        return pd.Series(np.where(null, np.iinfo(np.int64).min, us))
    if pd.api.types.is_numeric_dtype(s) or (
        s.dtype == object and all(isinstance(v, (int, float, Decimal)) for v in s.dropna())
    ):
        vals = pd.to_numeric(s, errors="coerce").astype("float64").to_numpy()
        return pd.Series(np.where(null, NULL_NUM, _round_sig(vals)))
    text = s.astype(str).to_numpy(dtype=object)
    text[null] = NULL
    return pd.Series(text)


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: column names plus row values."""
    cols = sorted(pdf.columns)
    canon = pd.DataFrame({c: _canon_column(pdf[c]) for c in cols})
    rows = pd.util.hash_pandas_object(canon, index=False).to_numpy()
    rows.sort()
    h = hashlib.sha256(",".join(cols).encode())
    h.update(rows.tobytes())
    return h.hexdigest()


def oracle_results(sf_dir: str, oracles: dict[str, str]) -> dict[str, dict]:
    """Row count and value hash of each oracle query, run on DuckDB over the
    parquet tables in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(sf_dir, f)
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
        out = {}
        for name, sql in oracles.items():
            pdf = con.sql(sql).df()
            out[name] = {"rows": len(pdf), "hash": value_hash(pdf)}
        return out
    finally:
        con.close()


def tree_digest(root: str) -> list[tuple[str, str]]:
    """Sorted (directory, content sha256) of every file under ``root``.

    File names are left out: Spark names part files after the writing job,
    so a byte-identical rewrite still gets new names."""
    out = []
    for d, _dirs, files in os.walk(root):
        rel = os.path.relpath(d, root)
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out.append((rel, hashlib.sha256(fh.read()).hexdigest()))
    return sorted(out)
