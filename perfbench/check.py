"""Output check: Spark results against DuckDB oracles, in the driver's shape.

Row count, then an order-insensitive value comparison with columns
sorted by name.  Floats compare with a 1e-9 relative tolerance; lists
compare element-wise.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb
import numpy as np
import pandas as pd

REL_TOL = 1e-9
ABS_TOL = 1e-9


def oracle_connection(tables_dir: str, table_names) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in table_names:
        path = os.path.join(tables_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS "
                f"SELECT * FROM read_parquet('{path}')"
            )
    return con


def _canon(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, decimal.Decimal):
        return float(v)
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    if isinstance(v, datetime.date):
        ts = pd.Timestamp(v)
        return ts.tz_convert(None) if ts.tzinfo else ts
    return v


def _key(v):
    """Total order over canonical values: numbers numerically (NaN last),
    then strings, timestamps, tuples; None first."""
    if v is None:
        return (0,)
    if isinstance(v, (bool, int, float)):
        f = float(v)
        return (1, math.isnan(f), 0.0 if math.isnan(f) else f)
    if isinstance(v, str):
        return (2, v)
    if isinstance(v, pd.Timestamp):
        return (3, v.value)
    if isinstance(v, tuple):
        return (4, tuple(_key(x) for x in v))
    return (5, repr(v))


def _rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_canon(v) for v in r) for r in df[cols].itertuples(index=False)]
    rows.sort(key=lambda r: tuple(_key(v) for v in r))
    return rows


def _equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_equal(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        return math.isclose(fa, fb, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Return a one-line mismatch description, or None when equal."""
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    for i, (g, w) in enumerate(zip(_rows(got), _rows(want))):
        if not all(_equal(x, y) for x, y in zip(g, w)):
            return f"row {i}: {g!r} != {w!r}"[:300]
    return None
