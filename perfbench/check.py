"""Output check: each step's Spark result against its DuckDB oracle.

The worker leaves every step's final result as parquet. Both that and
the registry's oracle SQL (run over views of the same reference tables)
are read through DuckDB, so the two sides share one value conversion.
Rows are compared as multisets over the sorted column names: first both
sides sorted alike and compared column by column, then, only if that
finds a difference, row by row in ``rows_match``. Floats
match within a relative tolerance that absorbs the native-double-sum
profile (``GENTROPY_SPARK_NATIVE_SUMS=1``) against the oracle's
decimal sums, and an absolute one for values rounded to 6 decimals
either side of a rounding boundary. Steps without an oracle must
return at least one row.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
from collections import defaultdict

import duckdb
import numpy as np

REL_TOL = 1e-6
ABS_TOL = 2e-6


def _split(v, exact: list, approx: list) -> None:
    """Flatten a value into its exactly-compared and float leaves."""
    if isinstance(v, (bool, int, str)) or v is None:
        exact.append(v)
    elif isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            exact.append("NaN")
        elif math.isinf(f):
            exact.append(f)
        else:
            approx.append(f)
    elif isinstance(v, (dt.datetime, dt.date, dt.time)):
        if isinstance(v, dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        exact.append(v.isoformat())
    elif isinstance(v, dict):
        exact.append(len(v))
        for k in sorted(v):
            exact.append(k)
            _split(v[k], exact, approx)
    elif isinstance(v, (list, tuple)):
        exact.append(len(v))
        for x in v:
            _split(x, exact, approx)
    elif isinstance(v, (bytes, bytearray, memoryview)):
        exact.append(bytes(v).hex())
    else:
        exact.append(repr(v))


def _close(a: tuple[float, ...], b: tuple[float, ...]) -> bool:
    return len(a) == len(b) and all(
        math.isclose(x, y, rel_tol=REL_TOL, abs_tol=ABS_TOL) for x, y in zip(a, b)
    )


def rows_match(left: list[tuple], right: list[tuple]) -> bool:
    """Multiset equality of two row lists under the float tolerance.

    Rows are bucketed by their exact leaves; inside a bucket, rows are
    paired in sorted order of their float leaves, falling back to a
    greedy match when a float near a tie sorts differently on each side.
    """
    if len(left) != len(right):
        return False
    buckets: dict[tuple, list[list[tuple]]] = defaultdict(lambda: [[], []])
    for side, rows in enumerate((left, right)):
        for r in rows:
            exact: list = []
            approx: list = []
            _split(list(r), exact, approx)
            buckets[repr(exact)][side].append(tuple(approx))
    for a, b in buckets.values():
        if len(a) != len(b):
            return False
        a.sort()
        b.sort()
        if all(_close(x, y) for x, y in zip(a, b)):
            continue
        unmatched = list(b)
        for x in a:
            hit = next((i for i, y in enumerate(unmatched) if _close(x, y)), None)
            if hit is None:
                return False
            unmatched.pop(hit)
    return True


def oracle_connection(data_dir: str, tmp_dir: str) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with one view per table in ``data_dir``; anything
    it spills goes under ``tmp_dir``."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for name in sorted(os.listdir(data_dir)):
        t = name.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{name}'")
    return con


def _types(con: duckdb.DuckDBPyConnection, rel: str) -> dict[str, str]:
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE {rel}").fetchall()}


def _approx(sql_type: str) -> bool:
    return sql_type in ("DOUBLE", "FLOAT", "REAL") or sql_type.startswith("DECIMAL")


def _columns_equal(x, y, approx: bool) -> bool:
    mx, my = np.ma.getmaskarray(x), np.ma.getmaskarray(y)
    if not np.array_equal(mx, my):
        return False
    x, y = np.ma.getdata(x)[~mx], np.ma.getdata(y)[~my]
    if approx:
        return bool(np.isclose(x.astype(np.float64), y.astype(np.float64),
                               rtol=REL_TOL, atol=ABS_TOL, equal_nan=True).all())
    if x.dtype.kind in "biu" and y.dtype.kind in "biu":
        return bool(np.array_equal(x, y))
    try:
        return all(bool(a == b) for a, b in zip(x, y))
    except (TypeError, ValueError):  # nested arrays: leave them to rows_match
        return False


def _sorted_match(con, s_types: dict[str, str], o_types: dict[str, str]) -> bool:
    """Fast path: both sides sorted the same way, compared column by
    column. Exact columns sort first, so only rows equal on all of them
    can pair up differently; such a tie falls back to ``rows_match``."""
    names = sorted(s_types)
    approx = {c: _approx(s_types[c]) or _approx(o_types[c]) for c in names}
    order = ", ".join(f'"{c}"' for c in sorted(names, key=lambda c: (approx[c], c)))
    cols = ", ".join(f'"{c}"' for c in names)
    a, b = (
        con.execute(f"SELECT {cols} FROM {rel} ORDER BY {order}").fetchnumpy()
        for rel in ("spark_out", "oracle_out")
    )
    return all(_columns_equal(a[c], b[c], approx[c]) for c in names)


def check_step(
    con: duckdb.DuckDBPyConnection, path: str | None, oracle: str | None
) -> str | None:
    """None when the step's output is correct, else the reason it is not."""
    if path is None:
        return "no output was written"
    con.execute(
        f"CREATE OR REPLACE TEMP VIEW spark_out AS "
        f"SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    if oracle is None:
        n = con.execute("SELECT count(*) FROM spark_out").fetchone()[0]
        return None if n else "no oracle and no rows"
    oracle = oracle.strip().rstrip(";")
    con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_out AS {oracle}")
    try:
        s_types, o_types = _types(con, "spark_out"), _types(con, "oracle_out")
        if sorted(s_types) != sorted(o_types):
            return f"columns differ: {sorted(s_types)} vs oracle {sorted(o_types)}"
        s_n, o_n = (con.execute(f"SELECT count(*) FROM {rel}").fetchone()[0]
                    for rel in ("spark_out", "oracle_out"))
        if s_n != o_n:
            return f"values differ ({s_n} rows vs oracle {o_n})"
        if _sorted_match(con, s_types, o_types):
            return None
        cols = ", ".join(f'"{c}"' for c in sorted(s_types))
        s_rows, o_rows = (con.execute(f"SELECT {cols} FROM {rel}").fetchall()
                          for rel in ("spark_out", "oracle_out"))
        if not rows_match(s_rows, o_rows):
            return f"values differ ({s_n} rows vs oracle {o_n})"
        return None
    finally:
        con.execute("DROP TABLE oracle_out")
