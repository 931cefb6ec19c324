"""Independent answers from DuckDB, and an order-insensitive comparison.

Cells are canonicalised the same way on both sides: numbers (int, float,
Decimal, or the decimal strings the server's JSON carries) become
normalised Decimal text, datetimes their ``str()`` form, lists and dicts
recursively.  Rows are compared as sorted multisets of column-ordered
tuples, so row order never matters but every value and every duplicate
does.
"""

from __future__ import annotations

import math
import os
from datetime import date, datetime
from decimal import Decimal, InvalidOperation

import duckdb

from perfbench.traffic import TABLES


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for name in TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        v = repr(v)
    if isinstance(v, (int, Decimal, str)):
        s = str(v)
        try:
            d = Decimal(s)
        except InvalidOperation:
            return s
        return s if not d.is_finite() else str(d.normalize())
    if isinstance(v, (datetime, date)):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return repr(v)


def rowset(columns: list[str], rows: list) -> list[tuple]:
    """Sorted canonical rows with columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def expected(con: duckdb.DuckDBPyConnection, sql: str):
    """(columns, canonical rows) of ``sql``."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, rowset(cols, cur.fetchall())


def compare(want: tuple[list[str], list[tuple]], columns: list[str], rows: list) -> str | None:
    """None when the answer matches, else a one-line reason."""
    want_cols, want_rows = want
    if sorted(columns) != sorted(want_cols):
        return f"columns {columns} != {want_cols}"
    got = rowset(columns, rows)
    if len(got) != len(want_rows):
        return f"{len(got)} rows != {len(want_rows)}"
    for g, w in zip(got, want_rows):
        if g != w:
            return f"first differing row {g} != {w}"
    return None
