"""DuckDB oracle check: the registry's ANSI SQL over the same parquet
tables, compared to a Spark result order-insensitively after the
canonicalisation of the repository's oracle tests (``tests/oracle_utils``:
columns sorted by name, floats by ``repr``, timestamps as naive UTC
strings)."""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd

from tests.oracle_utils import _canon, duck_con


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duck_con(sf_dir)
    con.execute("SET threads TO 2")
    return con


def digest(df: pd.DataFrame) -> str:
    """Order-insensitive content hash of a result."""
    c = _canon(df)
    h = hashlib.sha256("\x1f".join(c.columns).encode())
    for row in c.itertuples(index=False):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]
