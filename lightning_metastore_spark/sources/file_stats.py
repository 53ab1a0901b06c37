"""File statistics for the lakehouse sources: what a data file's
parquet footer says about each column, and what a file's row count,
null count and bounds prove about a `col <op> literal` conjunct.

Delta keeps the numbers as `add.stats` JSON and partition values
(`delta_reader`), Iceberg as manifest counts and Appendix-D bounds
(`iceberg_writer`, `iceberg_reader`); each format only encodes and
decodes them. The rule lives here once:

- `footer_stats` reads a footer into per-column counts and exact
  bounds (the write side);
- `usable_conjuncts` turns `(col, op, literal)` hints into values that
  compare with a column's bounds the way Spark compares them with its
  rows, and drops every conjunct it cannot reason about;
- `may_match` decides one conjunct against one file.

A file is skipped only when its numbers prove that no row matches;
anything unknown keeps it.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import operator
import re
from typing import Any, NamedTuple, Optional

from pyspark.sql import types as T


class ColumnStats(NamedTuple):
    values: int            # value count, NULLs included
    nulls: Optional[int]   # None: some row group does not say
    lo: Any                # None: no exact lower bound
    hi: Any                # None: no exact upper bound


def _merge(acc: dict, name: str, v, pick) -> None:
    """acc[name] = pick(acc[name], v), where one None makes it None."""
    if name not in acc:
        acc[name] = v
    elif acc[name] is not None:
        acc[name] = None if v is None else pick(acc[name], v)


def _bounds(st) -> tuple:
    if st is None or not st.has_min_max:
        return None, None
    try:
        lo, hi = st.min, st.max
    except Exception:  # noqa: BLE001 — e.g. INT32/INT64 decimals
        return None, None
    # a truncated string max is no upper bound (nor a truncated min a
    # usable lower one): only exact values bound the column
    if getattr(st, "is_min_value_exact", None) is False:
        lo = None
    if getattr(st, "is_max_value_exact", None) is False:
        hi = None
    return lo, hi


def footer_stats(path: str) -> Optional[tuple[int, dict]]:
    """(row count, {column: ColumnStats}) for each top-level primitive
    column of the parquet file at ``path``, from its footer alone; None
    when the footer cannot be read. A column keeps a null count only
    when every row group records one (a partial sum undercounts), and a
    bound only when every row group has an exact one that pyarrow can
    convert."""
    try:
        import pyarrow.parquet as pq
        md = pq.ParquetFile(path).metadata
    except Exception:  # noqa: BLE001 — stats are advisory
        return None
    values: dict = {}
    nulls: dict = {}
    los: dict = {}
    his: dict = {}
    for rg in range(md.num_row_groups):
        rgm = md.row_group(rg)
        for j in range(rgm.num_columns):
            col = rgm.column(j)
            name = col.path_in_schema
            if "." in name:
                continue  # nested leaf
            st = col.statistics
            values[name] = values.get(name, 0) + int(col.num_values)
            _merge(nulls, name, None if st is None or st.null_count is None
                   else int(st.null_count), lambda a, b: a + b)
            lo, hi = _bounds(st)
            _merge(los, name, lo, min)
            _merge(his, name, hi, max)
    return int(md.num_rows), {
        n: ColumnStats(values[n], nulls[n], los[n], his[n]) for n in values}


def session_tzinfo(tz: Optional[str]):
    """tzinfo for a `spark.sql.session.timeZone` value (IANA name or
    GMT/UTC±offset spelling), or None when it cannot be resolved —
    callers treat None as "cannot reason about zones" and disable the
    zone-sensitive optimization."""
    if not tz:
        return None
    m = re.fullmatch(r"(?:GMT|UTC)?([+-])(\d{1,2})(?::?(\d{2}))?",
                     str(tz))
    if m:
        off = dt.timedelta(hours=int(m.group(2)),
                           minutes=int(m.group(3) or 0))
        return dt.timezone(-off if m.group(1) == "-" else off)
    try:
        from zoneinfo import ZoneInfo
        return ZoneInfo(str(tz))
    except Exception:  # noqa: BLE001 — unknown zone name
        return None


# canonical literal strings only — Spark's string casts accept looser
# spellings that Python parses differently or not at all; pruning
# restricts itself to forms both engines agree on (non-canonical
# forms skip the conjunct — always sound)
_CANON_DATE_RE = re.compile(r"\d{4}-\d{2}-\d{2}")
_CANON_TS_RE = re.compile(
    r"\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2}(\.\d{1,6})?)?)?"
    r"(Z|[+-]\d{2}:?\d{2})?")


def _ts_utc_naive(value, session_tz: Optional[str], ntz: bool):
    """SQL timestamp literal (canonical string or datetime) -> the
    comparable naive datetime, or None when the conversion is not
    sound. TIMESTAMP (tz) literals are wall-clock in the SESSION zone
    (Spark's cast semantics) and compare against UTC stats, so they
    convert through ``session_tz`` — no session zone, no pruning.
    TIMESTAMP_NTZ is naive-vs-naive (zone-free); an offset-carrying
    literal against an ntz column is refused. A wall clock the session
    zone repeats (DST fall-back) names two instants and is refused for
    both column types: Spark compares an ntz column with a TIMESTAMP
    literal as instants in that zone."""
    if isinstance(value, str):
        s = value.strip()
        if not _CANON_TS_RE.fullmatch(s):
            return None
        try:
            b = dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
        except ValueError:
            return None
    elif isinstance(value, dt.datetime):
        b = value
    else:
        return None
    if b.tzinfo is not None:
        return None if ntz else b.astimezone(dt.timezone.utc).replace(
            tzinfo=None)
    tzi = session_tzinfo(session_tz)
    local = None if tzi is None else b.replace(tzinfo=tzi)
    if local is not None and local.utcoffset() != local.replace(
            fold=1).utcoffset():
        return None
    if ntz:
        return b
    if local is None:
        return None
    return local.astimezone(dt.timezone.utc).replace(tzinfo=None)


_INTEGRAL = {"byte", "short", "integer", "long"}


def comparable(value, dtype: T.DataType, session_tz: Optional[str] = None):
    """``value`` as Spark compares it with a ``dtype`` column, in a form
    that compares exactly with that column's bounds; None when pruning
    cannot reason about the pair.

    - Numbers never pass through a float they do not already hold: an
      int above 2^53 stays exact, and a fractional literal against an
      integral column keeps its fraction (truncating it would skip the
      boundary file).
    - A double literal against a decimal column is refused, since Spark
      compares the pair as doubles; so is a double that an integral
      column's doubles could round onto (|v| >= 2^53), and an int that
      a FLOAT column's cast would round (|v| > 2^24).
    - A typed literal prunes only its own column type: `scol = DATE
      '...'` makes Spark cast the STRING COLUMN, so string bounds say
      nothing about it.
    - Date and timestamp strings must be canonical; timestamps go
      through the session zone (`_ts_utc_naive`)."""
    tn = dtype.typeName()
    if isinstance(value, dt.datetime):     # before date: a subclass
        return (_ts_utc_naive(value, session_tz, ntz=tn == "timestamp_ntz")
                if tn in ("timestamp", "timestamp_ntz") else None)
    if isinstance(value, dt.date):
        return value if tn == "date" else None
    if isinstance(value, str):
        s = value.strip()
        if tn == "string":
            return value
        if tn == "date" and _CANON_DATE_RE.fullmatch(s):
            return dt.date.fromisoformat(s)
        if tn in ("timestamp", "timestamp_ntz"):
            return _ts_utc_naive(s, session_tz, ntz=tn == "timestamp_ntz")
        return None
    if isinstance(value, bool):
        return value if tn == "boolean" else None
    if isinstance(value, int):
        if tn in _INTEGRAL or tn == "decimal":
            return value
        if tn == "double" or (tn == "float" and abs(value) <= 2 ** 24):
            return float(value)
        return None
    if isinstance(value, decimal.Decimal):
        if not value.is_finite():
            return None
        if tn in _INTEGRAL or tn == "decimal":
            return value
        return float(value) if tn in ("float", "double") else None
    if isinstance(value, float):
        if not math.isfinite(value):
            return None
        if tn in ("float", "double"):
            return value
        return value if tn in _INTEGRAL and abs(value) < 2 ** 53 else None
    return None


_OPS = {"=", "<", "<=", ">", ">=", "in", "isnull", "notnull"}


def usable_conjuncts(prune, schema: T.StructType,
                     session_tz: Optional[str] = None) -> list[tuple]:
    """(field name, op, comparable value) for each ``(col, op, literal)``
    hint that can skip files of a table with ``schema``. Column names
    match case-insensitively. A conjunct with an unknown column or
    operator, or a literal `comparable` refuses, is dropped (the caller
    still applies its full predicate); so is an IN list with one such
    member, whose other members alone would skip files it matches."""
    fields = {f.name.lower(): f for f in schema.fields}
    out = []
    for col, op, lit in prune or ():
        f = fields.get(str(col).lower())
        if f is None or op not in _OPS:
            continue
        if op in ("isnull", "notnull"):
            out.append((f.name, op, None))
            continue
        members = (tuple(lit) if op == "in" and isinstance(lit, (list, tuple))
                   else (lit,))
        vs = tuple(comparable(m, f.dataType, session_tz) for m in members)
        if vs and all(v is not None for v in vs):
            out.append((f.name, op, vs if op == "in" else vs[0]))
    return out


# what `col <op> v` asks of a file's lower and of its upper bound
_LO = {"=": operator.le, "<": operator.lt, "<=": operator.le}
_HI = {"=": operator.ge, ">": operator.gt, ">=": operator.ge}


def _bounds_admit(op: str, lo, hi, v) -> bool:
    """Can a row with value in [lo, hi] satisfy `col <op> v`? A missing
    or incomparable bound is unknowable -> True."""
    try:
        return ((lo is None or op not in _LO or _LO[op](lo, v))
                and (hi is None or op not in _HI or _HI[op](hi, v)))
    except TypeError:
        return True


def may_match(op: str, value, records: Optional[int],
              nulls: Optional[int], lo, hi) -> bool:
    """Can a file with ``records`` rows, whose column has ``nulls`` NULLs
    and values in [lo, hi], hold a row where `col <op> value` (a
    `usable_conjuncts` member) is true? None is unknown. An empty file
    matches nothing, and an all-NULL column only IS NULL; an IN list
    matches when any member may."""
    if records == 0:
        return False
    if op == "isnull":
        return nulls != 0
    if nulls is not None and nulls == records:
        return False
    if op == "in":
        return any(_bounds_admit("=", lo, hi, m) for m in value)
    return _bounds_admit(op, lo, hi, value)
