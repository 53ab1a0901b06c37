"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet, then compares row count, column names and
canonicalized values (columns sorted by name, rows sorted, floats via
repr — i.e. STRICTER than a tolerance compare; if this passes, any
value-hash passes).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon_value(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon_value(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def _arrow_compat(s, o):
    """True when Spark type `s` and DuckDB type `o` hash identically.

    Equal types are compatible; so are integer-width differences (Spark
    rank() is int32, DuckDB's is int64 — r1 driver gate proved these hash
    alike), timestamp-unit differences, and large_string vs string.
    int64 vs decimal128 (DuckDB HUGEINT) or int vs float are NOT — DuckDB
    HUGEINT/DECIMAL reach pandas as float64/Decimal and the typed hash
    diverges (the r1 q_events_sessionize red row).
    """
    import pyarrow as pa

    if s.equals(o):
        return True
    if pa.types.is_integer(s) and pa.types.is_integer(o):
        return True
    if pa.types.is_timestamp(s) and pa.types.is_timestamp(o):
        return True
    str_like = (pa.types.is_string, pa.types.is_large_string)
    if any(p(s) for p in str_like) and any(p(o) for p in str_like):
        return True
    if pa.types.is_list(s) and pa.types.is_list(o):
        return _arrow_compat(s.value_type, o.value_type)
    return False


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_value(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as ep
    from lightning_metastore_spark.session import get_spark

    spark = get_spark("check_correctness")
    con = duckdb.connect()
    import os
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = ep.queries(), ep.oracle_sql()
    n_pass = n_fail = 0
    for name, build in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = build(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            n_pass += 1
            continue
        try:
            res = con.sql(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            oarrow = {f.name: f.type for f in con.sql(oracles[name]).arrow().schema}
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        errs = []
        # Typed-schema gate: the driver hashes TYPED values, so a DuckDB
        # HUGEINT/DECIMAL column vs a Spark BIGINT/DOUBLE one fails its hash
        # even when the Python-canonicalized values below agree. Compare the
        # Arrow types both engines would hand the driver.
        try:
            sarrow = {f.name: f.type for f in sdf.toArrow().schema}
            for c in scols:
                if c in oarrow and not _arrow_compat(sarrow[c], oarrow[c]):
                    errs.append(f"arrow type of {c!r}: spark={sarrow[c]} duck={oarrow[c]}")
        except Exception as e:  # toArrow can fail on exotic types; fall through
            print(f"note {name}: arrow compare skipped ({e})")
        if len(srows) != len(orows):
            errs.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if sorted(scols) != sorted(ocols):
            errs.append(f"cols spark={sorted(scols)} duck={sorted(ocols)}")
        if not errs:
            cs, co = canon_rows(scols, srows), canon_rows(ocols, orows)
            if cs != co:
                bad = next(i for i, (a, b) in enumerate(zip(cs, co)) if a != b)
                errs.append(f"values differ at sorted row {bad}:\n  spark={cs[bad]}\n  duck ={co[bad]}")
        if errs:
            print(f"FAIL {name}: " + "; ".join(errs))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
