"""Order-insensitive comparison of a query result with its DuckDB
oracle, at the pandas level: columns sorted by name, every cell turned
into a string, rows sorted. Numbers compare exactly (5.0 is not 5),
except that a DECIMAL becomes a float on both sides, as DuckDB's
``.df()`` does (Spark's ``Decimal('1.50')`` and DuckDB's ``1.5`` are
the same value); date-likes compare by instant, since a Spark ``date``
and a DuckDB midnight timestamp are the same value."""

from __future__ import annotations

import datetime as dt
import decimal
import math

import numpy as np
import pandas as pd


def _cell(v) -> str:
    if v is None or v is pd.NA:
        return "None"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, np.ndarray):
        return "[" + ", ".join(_cell(x) for x in v.tolist()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(_cell(x) for x in v) + "]"
    return str(v)


def _rows(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(pdf.columns)
    return sorted(tuple(_cell(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None))


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    """(equal, reason) for a Spark result and its oracle's."""
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"{len(got)} rows vs oracle {len(want)}"
    a, b = _rows(got), _rows(want)
    if a != b:
        diff = next(x for x in zip(a, b) if x[0] != x[1])
        return False, f"first differing row {diff[0]} vs oracle {diff[1]}"
    return True, "ok"
