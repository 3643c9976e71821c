"""Answer checks: order-insensitive result comparison against DuckDB
and the pinned digests of the pipeline outputs."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import re

import pyarrow as pa

REL_TOL = 1e-9


def _norm(v):
    """Plain comparable Python value: timestamps naive, decimals float."""
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None) if v.tzinfo is None else (
            v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        )
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _key(v):
    """Sort key that is total over mixed None/number/str values and
    robust to last-digit float noise."""
    if v is None:
        return (0, "")
    if isinstance(v, float):
        if math.isnan(v):
            return (1, "nan")
        return (2, float(f"{v:.9g}"))
    if isinstance(v, (bool, int)):
        return (2, v)
    if isinstance(v, tuple):
        return (3, tuple(_key(x) for x in v))
    return (4, str(v))


def rows_of(table: pa.Table, by_name: bool = True) -> list[tuple]:
    """Rows as tuples; columns sorted by name unless `by_name` is False
    (then by position, for engines that name expressions differently)."""
    cols = sorted(table.column_names) if by_name else table.column_names
    data = [[_norm(v) for v in table.column(c).to_pylist()] for c in cols]
    return list(zip(*data)) if data else []


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    return a == b


def rows_match(got: list[tuple], want: list[tuple], ordered: bool) -> str | None:
    """None when the two row lists agree (as multisets, or in order when
    `ordered`); otherwise a one-line description of the first difference."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    if not ordered:
        got = sorted(got, key=lambda r: tuple(_key(v) for v in r))
        want = sorted(want, key=lambda r: tuple(_key(v) for v in r))
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return f"row {i}: {g!r} != {w!r}"
    return None


def digest(table: pa.Table) -> str:
    """Order-insensitive digest: columns by name, rows sorted, floats
    rounded to 9 significant digits."""
    rows = sorted(
        (tuple(_key(v) for v in r) for r in rows_of(table)),
    )
    h = hashlib.sha256()
    h.update(json.dumps(sorted(table.column_names)).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


_READ_FILES = re.compile(
    r"read_files\('([^']+)',\s*connection\s*=>\s*'[^']+'\)"
)


def duckdb_sql(statement: str, data_dir: str) -> str:
    """The engine's read_files(...) statement as DuckDB SQL over the
    same parquet files."""
    return _READ_FILES.sub(
        lambda m: f"read_parquet('{data_dir}/{m.group(1)}')", statement
    )
