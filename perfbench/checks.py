"""Comparison of one kept answer with its oracle answer."""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq

# ROUND(SUM(double), 2) of a large sum can land on either side of a half-
# cent tie depending on summation order (Spark and DuckDB add in different
# orders), so float cells match within this relative tolerance. Every
# other cell must be equal.
REL_TOL = 1e-8


def parquet_rows(path: str) -> int:
    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _key(row) -> tuple:
    return tuple(str(v) for v in row if not isinstance(v, float))


def _same_rows(out, want) -> bool:
    if len(out) != len(want):
        return False
    for a, b in zip(sorted(out, key=_key), sorted(want, key=_key)):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(x, y, rel_tol=REL_TOL, abs_tol=1e-12):
                    return False
            elif x != y:
                return False
    return True


def matches(out, expected: tuple[str, object]) -> bool:
    """``expected`` is one of
    ``("table", oracle DataFrame)`` -- the oracle's rows, columns in order;
    ``("rows", list of tuples)`` -- the same rows in any order;
    ``("count", n)`` -- ``out`` is a parquet directory holding n rows."""
    kind, want = expected
    if kind == "table":
        rows = [tuple(r) for r in want.itertuples(index=False, name=None)]
        return _same_rows(out, rows)
    if kind == "rows":
        return sorted(out) == sorted(want)
    if kind == "count":
        return parquet_rows(out) == want
    raise ValueError(kind)
