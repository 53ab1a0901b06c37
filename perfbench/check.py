"""Output checks: every statement carries its expected result, computed
by the generator (or DuckDB) before the timed loop."""

from __future__ import annotations

import datetime
import decimal
import math
from dataclasses import dataclass
from typing import Any, Optional

REL_TOL = 1e-9
ABS_TOL = 1e-6


@dataclass
class Stmt:
    """One generated statement. ``via`` is "sql" (``LightningContext.sql``),
    "post" (``POST /api/q``) or "get" (``text`` is then the URL path).
    ``expect`` is a list of row tuples (compared as a multiset, or in
    order when ``ordered``) or a callable returning a mismatch message."""
    kind: str
    text: str
    write: bool
    expect: Any
    via: str = "sql"
    ordered: bool = False


def norm(v):
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL,
                            abs_tol=ABS_TOL)
    return a == b


def _sort_key(row):
    return tuple((x is None, round(x, 4) if isinstance(x, float) else
                  (x if isinstance(x, (int, str, bool)) else repr(x)))
                 for x in row)


def compare_rows(actual: list[tuple], expected: list[tuple],
                 ordered: bool = False) -> Optional[str]:
    """None when equal (floats within tolerance), else a short reason."""
    actual = [tuple(norm(x) for x in r) for r in actual]
    expected = [tuple(norm(x) for x in r) for r in expected]
    if len(actual) != len(expected):
        return f"{len(actual)} rows, expected {len(expected)}"
    if not ordered:
        actual, expected = sorted(actual, key=_sort_key), sorted(
            expected, key=_sort_key)
    for i, (a, e) in enumerate(zip(actual, expected)):
        if len(a) != len(e) or not all(_close(x, y) for x, y in zip(a, e)):
            return f"row {i}: {a!r} != expected {e!r}"
    return None


def check(st: Stmt, rows: list[tuple]) -> Optional[str]:
    if callable(st.expect):
        return st.expect(rows)
    return compare_rows(rows, st.expect, st.ordered)

