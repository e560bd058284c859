"""Output check: compare a collected result with its DuckDB oracle.

Both sides are reduced to an order-insensitive digest of their rows, so
the oracle is computed once per fixture and cached on disk, and the check
of a 1 M-row result costs a vectorised hash instead of a Python loop.

Normalisation follows the repository's ``tests/compare.py``: columns are
taken in name order, rows as a multiset, values compared by value family
(an integer equals the float of the same value, ``-0.0`` equals ``0.0``,
dates and timestamps compare by instant). One difference: a pandas frame
cannot tell a null float from NaN, so both sides treat them as equal.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import os

import numpy as np
import pandas as pd


def _numeric(values) -> np.ndarray:
    arr = np.asarray(values, dtype=np.float64) + 0.0  # folds -0.0 into 0.0
    arr[np.isnan(arr)] = np.nan  # one NaN bit pattern
    return arr


def _instants(values) -> np.ndarray:
    ts = pd.to_datetime(pd.Series(values))
    if getattr(ts.dt, "tz", None) is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    return ts.astype("datetime64[ns]").to_numpy().view(np.int64)


def _is_null(v) -> bool:
    return v is None or (isinstance(v, float) and v != v) or v is pd.NaT


def _text(v) -> str:
    if _is_null(v):
        return "\x00null"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "b:" + bytes(v).hex()
    return "s:" + str(v)


def _canonical_column(s: pd.Series) -> np.ndarray:
    if pd.api.types.is_bool_dtype(s) or pd.api.types.is_numeric_dtype(s):
        return _numeric(s.astype("float64"))
    if pd.api.types.is_datetime64_any_dtype(s):
        return _instants(s)
    vals = s.to_numpy(dtype=object)
    present = [v for v in vals if not _is_null(v)]
    if present and all(
        isinstance(v, (int, float, decimal.Decimal, np.number, bool, np.bool_))
        for v in present
    ):
        return _numeric([np.nan if _is_null(v) else float(v) for v in vals])
    if present and all(isinstance(v, (dt.date, pd.Timestamp)) for v in present):
        return _instants([None if _is_null(v) else v for v in vals])
    return np.array([_text(v) for v in vals], dtype=object)


def digest(pdf: pd.DataFrame) -> dict:
    """Order-insensitive digest of a result frame: row count, column names
    and a hash of the sorted per-row hashes."""
    cols = sorted(pdf.columns)
    canon = pd.DataFrame(
        {str(i): _canonical_column(pdf[c]) for i, c in enumerate(cols)}
    )
    rows = np.sort(pd.util.hash_pandas_object(canon, index=False).to_numpy())
    h = hashlib.sha256(json.dumps(cols).encode())
    h.update(rows.tobytes())
    return {"rows": int(len(pdf)), "columns": cols, "digest": h.hexdigest()}


def mismatch(expected: dict, pdf: pd.DataFrame) -> str | None:
    """None if ``pdf`` matches the oracle digest, else a short reason."""
    got = digest(pdf)
    if got["columns"] != expected["columns"]:
        return f"columns differ: got {got['columns']}, oracle {expected['columns']}"
    if got["rows"] != expected["rows"]:
        return f"row count: got {got['rows']}, oracle {expected['rows']}"
    if got["digest"] != expected["digest"]:
        return "values differ from the oracle"
    return None


class OracleCache:
    """DuckDB oracle digests for one fixture directory, kept in a JSON file.

    An entry is keyed by the SHA-256 of the oracle SQL, so a shape whose
    oracle changes is recomputed on next use.
    """

    def __init__(self, path: str, fixture_dir: str):
        self.path = path
        self.fixture_dir = fixture_dir
        self._entries: dict[str, dict] = {}
        if os.path.exists(path):
            with open(path) as f:
                self._entries = json.load(f)
        self._con = None

    @staticmethod
    def _key(sql: str) -> str:
        return hashlib.sha256(sql.encode()).hexdigest()

    def get(self, sql: str) -> dict:
        key = self._key(sql)
        if key not in self._entries:
            self._entries[key] = digest(self._connection().execute(sql).df())
            self._save()
        return self._entries[key]

    def _connection(self):
        if self._con is None:
            import duckdb

            from fixture import TABLE_NAMES

            self._con = duckdb.connect()
            for t in TABLE_NAMES:
                path = os.path.join(self.fixture_dir, f"{t}.parquet")
                self._con.execute(
                    f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'"
                )
        return self._con

    def _save(self) -> None:
        tmp = f"{self.path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(self._entries, f, indent=0, sort_keys=True)
        os.replace(tmp, self.path)

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
