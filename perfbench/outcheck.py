"""Order-insensitive fingerprints of query outputs.

A fingerprint is (row count, sorted column names, value hash). The
value hash sums one 64-bit hash per row, so it ignores row order but
not duplicates. Cells are normalised the way the engine's oracle gate
compares them: integral numbers hash as integers whichever engine
typed them as floats, NaN and None hash alike, timestamps hash as
microseconds and other objects by their string form.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

_NULL = np.uint64(0x9E3779B97F4A7C15)
_MASK = (1 << 64) - 1


def _str_cell(x) -> str:
    if x is None or x is pd.NaT:
        return "\x00"
    if isinstance(x, float) and x != x:
        return "\x00"
    if isinstance(x, bytes):
        return x.hex()
    if isinstance(x, (list, tuple, np.ndarray)):
        return "[" + ",".join(_str_cell(v) for v in x) + "]"
    return str(x)


def _column_hash(s: pd.Series) -> np.ndarray:
    if pd.api.types.is_bool_dtype(s.dtype):
        s = s.astype("float64")
    if pd.api.types.is_datetime64_any_dtype(s.dtype):
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_localize(None)
        null = s.isna().to_numpy()
        vals = s.astype("datetime64[us]").to_numpy().astype(np.int64)
        return np.where(null, _NULL, pd.util.hash_array(vals))
    if pd.api.types.is_numeric_dtype(s.dtype):
        f = s.astype("float64").to_numpy()
        null = np.isnan(f)
        finite = np.where(null, 0.0, f)
        if np.all(np.abs(finite) < 2.0 ** 53) and np.all(
                finite == np.round(finite)):
            if pd.api.types.is_integer_dtype(s.dtype) and not null.any():
                vals = s.to_numpy().astype(np.int64)
            else:
                vals = finite.astype(np.int64)
            h = pd.util.hash_array(vals)
        else:
            h = pd.util.hash_array(finite + 0.0)  # -0.0 hashes as 0.0
        return np.where(null, _NULL, h)
    strs = np.array([_str_cell(v) for v in s.to_numpy()], dtype=object)
    return pd.util.hash_array(strs, categorize=False)


def fingerprint(df: pd.DataFrame) -> dict:
    """Fingerprint of one result frame."""
    cols = sorted(df.columns)
    acc = np.zeros(len(df), dtype=np.uint64)
    for i, c in enumerate(cols):
        h = _column_hash(df[c])
        # position-dependent mix so swapped columns hash differently
        acc = (acc * np.uint64(0x100000001B3)) ^ (h + np.uint64(2 * i + 1))
    total = int(acc.sum(dtype=np.uint64)) & _MASK if len(df) else 0
    return {"rows": int(len(df)), "columns": cols,
            "hash": f"{total:016x}"}


def matches(got: dict, want: dict | None) -> tuple[bool, str]:
    """Compare a Spark fingerprint with the oracle's. ``want`` None
    means the query has no SQL oracle: only the rows are checked."""
    if want is None:
        return got["rows"] >= 0, f"rows-only: {got['rows']} rows"
    if got["columns"] != want["columns"]:
        return False, f"schema {got['columns']} != {want['columns']}"
    if got["rows"] != want["rows"]:
        return False, f"rows {got['rows']} != {want['rows']}"
    if got["hash"] != want["hash"]:
        return False, f"value hash {got['hash']} != {want['hash']}"
    return True, f"{got['rows']} rows match"


def oracle_key(sql: str, data_dir: str) -> str:
    """Cache key of an oracle result: its SQL and the input tables."""
    return hashlib.sha256(f"{data_dir}\n{sql}".encode()).hexdigest()[:24]


def oracle_fingerprint(sql: str, data_dir: str, tables) -> dict:
    """Run one oracle on DuckDB over the parquet tables in
    ``data_dir`` and fingerprint its result."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
        return fingerprint(con.sql(sql).df())
    finally:
        con.close()
