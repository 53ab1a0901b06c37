"""The shared file-skipping rule (`sources/file_stats.py`) that Delta
and Iceberg reads and DML prune through: each row is one rule, checked
as a hint against one file's row count, null count and bounds."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from lightning_metastore_spark.sources.file_stats import (
    may_match,
    usable_conjuncts,
)

_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("s", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("q", T.DecimalType(20, 2)),
])
_BIG = 2 ** 53 + 1

# (rule, hint, file as (records, nulls, lo, hi), verdict): True keeps
# the file, False skips it, None means the hint cannot prune at all
_RULES = [
    ("fraction vs int keeps the boundary file",
     ("id", "<", Decimal("0.5")), (10, 0, 0, 9), True),
    ("fraction vs int still skips",
     ("id", "<", Decimal("0.5")), (10, 0, 1, 9), False),
    ("int above 2^53 matches its own bound",
     ("id", "=", _BIG), (1, 0, _BIG, _BIG), True),
    ("int above 2^53 is not its float neighbour",
     ("id", "=", _BIG), (1, 0, _BIG - 1, _BIG - 1), False),
    ("DATE vs a string column does not prune",
     ("s", "=", dt.date(2024, 1, 1)), (1, 0, "2023", "2023"), None),
    ("DST fall-back wall clock does not prune",
     ("ts", "=", dt.datetime(2024, 11, 3, 1, 30)),
     (1, 0, dt.datetime(2020, 1, 1), dt.datetime(2020, 1, 1)), None),
    ("a wall clock outside the fall-back hour prunes",
     ("ts", "=", dt.datetime(2024, 11, 3, 3, 30)),
     (1, 0, dt.datetime(2020, 1, 1), dt.datetime(2020, 1, 1)), False),
    ("decimal literal vs decimal bounds is exact",
     ("q", "=", Decimal("10.15")), (1, 0, Decimal("10.15"),
                                    Decimal("10.15")), True),
    ("double literal vs a decimal column does not prune",
     ("q", "=", 10.15), (1, 0, Decimal("10.15"), Decimal("10.15")), None),
    ("an empty file is skipped", ("id", "notnull", None),
     (0, None, None, None), False),
    ("an all-NULL file is skipped for comparisons",
     ("id", ">", 5), (10, 10, None, None), False),
    ("IN keeps a file any member may hit",
     ("id", "in", (1, 15)), (10, 0, 10, 19), True),
    ("IN skips a file no member hits",
     ("id", "in", (1, 2)), (10, 0, 10, 19), False),
    ("IN with one unusable member does not prune",
     ("id", "in", (1, "x")), (10, 0, 10, 19), None),
]


@pytest.mark.parametrize("rule,hint,stats,verdict", _RULES,
                         ids=[r[0].replace(" ", "_").replace("^", "**")
                              for r in _RULES])
def test_file_skipping_rule(rule, hint, stats, verdict):
    conds = usable_conjuncts([hint], _SCHEMA,
                             session_tz="America/New_York")
    if verdict is None:
        assert conds == []
        return
    [(_col, op, value)] = conds
    assert may_match(op, value, *stats) is verdict
