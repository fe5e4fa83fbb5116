"""Result comparison against DuckDB answers.

Rows compare as order-insensitive multisets, columns by name.  Floats
compare within a relative tolerance, because Spark and DuckDB may sum in
different orders; every other value compares exactly.
"""

from __future__ import annotations

import datetime
import decimal
import math

import duckdb

REL_TOL = 1e-9
ABS_TOL = 1e-9


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def _canon(v):
    if v is None:
        return ("null", None)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, decimal.Decimal):
        return ("f", float(v))
    if isinstance(v, float):
        return ("f", v)
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return _canon(v.tolist())
    return ("s", str(v))


def _sort_key(c):
    """Order canonical values with floats rounded, so rows whose floats
    differ only in the last bits still line up."""
    if c[0] == "f":
        f = c[1]
        return ("f", "nan" if math.isnan(f) else f"{f:.6e}")
    if c[0] == "l":
        return ("l", tuple(_sort_key(x) for x in c[1]))
    return (c[0], repr(c[1]))


def _equal(a, b) -> bool:
    if a[0] == "f" and b[0] == "f":
        x, y = a[1], b[1]
        if math.isnan(x) or math.isnan(y):
            return math.isnan(x) and math.isnan(y)
        return math.isclose(x, y, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if a[0] == "l" and b[0] == "l":
        return len(a[1]) == len(b[1]) and all(_equal(x, y) for x, y in zip(a[1], b[1]))
    return a == b


def canonical(cols: list[str], rows: list) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = [tuple(_canon(r[i]) for i in order) for r in rows]
    return sorted(canon, key=lambda row: tuple(_sort_key(c) for c in row))


def assert_same(got_cols: list[str], got_rows: list, want_cols: list[str], want_rows: list) -> None:
    """Raise AssertionError unless the two results are the same multiset."""
    if sorted(got_cols) != sorted(want_cols):
        raise AssertionError(f"columns {sorted(got_cols)} != {sorted(want_cols)}")
    if len(got_rows) != len(want_rows):
        raise AssertionError(f"{len(got_rows)} rows != {len(want_rows)} expected")
    a = canonical(got_cols, got_rows)
    b = canonical(want_cols, want_rows)
    for i, (x, y) in enumerate(zip(a, b)):
        if len(x) != len(y) or not all(_equal(p, q) for p, q in zip(x, y)):
            raise AssertionError(f"row {i} differs: got {x} expected {y}")


def check_df_rows(rows: list, cols: list[str], con: duckdb.DuckDBPyConnection, sql: str) -> None:
    """Compare collected Spark rows with the answer of ``sql``."""
    rel = con.sql(sql)
    assert_same(cols, [tuple(r) for r in rows], list(rel.columns), rel.fetchall())
