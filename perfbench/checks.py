"""Order-free row checksums, so a Spark result, a DuckDB oracle and a
sink's parquet output can be compared without sorting.

Values are put in one canonical form before hashing: numbers (ints,
floats, bools, decimals) as float64 bit patterns, timestamps as integer
nanoseconds since the epoch (UTC), everything else as text, nulls as
one marker. Equal tables give equal checksums whatever their row order
or the engine's choice of integer width."""

from __future__ import annotations

import datetime as dt
import decimal

import numpy as np
import pandas as pd

_NULL = np.uint64(0x9E3779B97F4A7C15)


def _floats(values: np.ndarray) -> np.ndarray:
    f = np.where(values == 0.0, 0.0, values)  # -0.0 -> 0.0
    bits = f.view(np.uint64).copy()
    bits[np.isnan(f)] = _NULL
    return bits


def _is_null(v) -> bool:
    return v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v))


def _column(col: pd.Series) -> np.ndarray:
    """One uint64 per row for a column, in the canonical form."""
    if col.dtype == object:
        sample = next((v for v in col if not _is_null(v)), None)
        if isinstance(sample, (dt.date, np.datetime64)):
            col = pd.to_datetime(col, utc=True)
        elif isinstance(sample, (int, float, bool, decimal.Decimal, np.number, np.bool_)):
            col = col.map(lambda v: np.nan if _is_null(v) else float(v)).astype("float64")
    if isinstance(col.dtype, pd.DatetimeTZDtype):
        col = col.dt.tz_convert("UTC").dt.tz_localize(None)
    if col.dtype.kind == "M":
        ns = col.astype("datetime64[ns]")
        bits = ns.to_numpy().view(np.uint64).copy()
        bits[ns.isna().to_numpy()] = _NULL
        return bits
    if pd.api.types.is_numeric_dtype(col.dtype):
        return _floats(col.astype("float64").to_numpy(na_value=np.nan))
    text = np.array(["\x00null" if _is_null(v) else str(v) for v in col], dtype=object)
    out = pd.util.hash_array(text)
    out[text == "\x00null"] = _NULL
    return out


def checksum(df: pd.DataFrame) -> dict:
    """``{"columns", "rows", "sum"}``: sorted column names, row count
    and the wrapping sum of per-row hashes."""
    cols = sorted(df.columns)
    canon = pd.DataFrame({c: _column(df[c]) for c in cols})
    rows = pd.util.hash_pandas_object(canon, index=False).to_numpy()
    return {
        "columns": cols,
        "rows": int(len(df)),
        "sum": int(rows.sum(dtype=np.uint64)),
    }
