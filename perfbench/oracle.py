"""DuckDB twin check: row count plus an order-insensitive value hash.

Both results are read through pandas (``toPandas()`` and DuckDB's
``.df()``), columns are sorted by name, every cell is canonicalised
with its kind (an int never equals a float), rows are sorted, and the
canonical rows are hashed.  Two results match when their column names,
row counts and hashes are equal.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import duckdb
import numpy as np
import pandas as pd


def connect(sf_dir: str, tmp_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``<table>.parquet`` in ``sf_dir``.

    A directory table (a landed stream) is read through its parquet
    part files; the stream's ``_spark_metadata`` log is skipped."""
    con = duckdb.connect(config={"temp_directory": tmp_dir, "memory_limit": "1GB", "threads": 4})
    for entry in sorted(os.listdir(sf_dir)):
        name, ext = os.path.splitext(entry)
        if ext == ".parquet":
            path = os.path.join(sf_dir, entry)
            src = f"{path}/*.parquet" if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def _cell(v) -> tuple:
    if v is None or v is pd.NaT:
        return ("null", "")
    if isinstance(v, (np.bool_, bool)):
        return ("bool", bool(v))
    if isinstance(v, (np.integer, int)):
        return ("int", int(v))
    if isinstance(v, (np.floating, float, decimal.Decimal)):
        f = float(v)
        return ("null", "") if math.isnan(f) else ("float", f)
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return ("dt", v.isoformat())
    if isinstance(v, dt.date):
        return ("dt", v.isoformat() + "T00:00:00")
    return (type(v).__name__, repr(v))


def digest(pdf: pd.DataFrame) -> tuple[tuple[str, ...], int, str]:
    """(sorted column names, row count, order-insensitive value hash)."""
    cols = tuple(sorted(pdf.columns))
    rows = sorted(repr(tuple(_cell(c) for c in row)) for row in pdf[list(cols)].to_numpy(dtype=object))
    return cols, len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def oracle_digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[tuple[str, ...], int, str]:
    return digest(con.execute(sql).df())
