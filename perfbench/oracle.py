"""DuckDB oracle comparison over the generated inputs.

Same comparison rule as the engine's own oracle tests: column sets
equal, row counts equal, and every value equal after an
order-insensitive canonicalisation (Decimal to float, floats rounded to
9 places, datetimes to ISO strings, rows sorted).
"""

from __future__ import annotations

import datetime
import math
import os
from decimal import Decimal

import duckdb

def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``<table>.parquet`` file."""
    con = duckdb.connect()
    for name in sorted(os.listdir(sf_dir)):
        table, ext = os.path.splitext(name)
        if ext == ".parquet":
            path = os.path.join(sf_dir, name)
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def canon(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


def mismatch(s_cols: list[str], s_rows: list, con: duckdb.DuckDBPyConnection,
             sql: str) -> str | None:
    """Compare collected Spark rows with the oracle SQL; None when equal,
    otherwise a one-line description of the first difference."""
    res = con.sql(sql)
    o_cols, o_rows = res.columns, res.fetchall()
    if sorted(s_cols) != sorted(o_cols):
        return f"columns {sorted(s_cols)} != oracle {sorted(o_cols)}"
    if len(s_rows) != len(o_rows):
        return f"rows {len(s_rows)} != oracle {len(o_rows)}"
    for i, (a, b) in enumerate(zip(canon(s_rows, s_cols), canon(o_rows, o_cols))):
        if a != b:
            return f"value mismatch at sorted row {i}: {a!r} != oracle {b!r}"
    return None
