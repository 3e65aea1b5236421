"""Result comparison against DuckDB.

Rows from the engine (Spark Rows or REST JSON objects) and from DuckDB
are canonicalized to tuples of plain values; floats compare with a
relative tolerance, because the two engines sum in different orders.
The REST API serializes DECIMAL cells as strings, so a string that is a
plain decimal number compares as that number.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import re

import duckdb

REL_TOL = 1e-9
ABS_TOL = 1e-9
_DECIMAL = re.compile(r"-?\d+\.\d+")


def duckdb_conn(corpus_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"create view {t} as select * from "
                    f"read_parquet('{corpus_dir}/{t}.parquet')")
    return con


def _cell(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, int):
        return float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    v = str(v)
    return float(v) if _DECIMAL.fullmatch(v) else v


def canon(rows) -> list[tuple]:
    """Rows as tuples of canonical cells, in their given order."""
    out = []
    for r in rows:
        if isinstance(r, dict):
            r = list(r.values())
        out.append(tuple(_cell(v) for v in r))
    return out


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def _key(row: tuple):
    # floats sort by 6 significant digits, so two sums that differ in
    # the last bits still land in the same order on both sides
    return tuple((x is None, str(type(x)),
                  float(f"{x:.6g}") if isinstance(x, float) else str(x))
                 for x in row)


def diff(got, want, ordered: bool = False) -> str | None:
    """None when the results match, else a one-line description."""
    g, w = canon(got), canon(want)
    if len(g) != len(w):
        return f"row count {len(g)} != {len(w)}"
    if not ordered:
        g, w = sorted(g, key=_key), sorted(w, key=_key)
    for i, (a, b) in enumerate(zip(g, w)):
        if len(a) != len(b) or not all(_same(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a} != {b}"
    return None
