"""Offline Apache Iceberg reader: metadata.json -> manifest list ->
manifests -> parquet scan, without the iceberg-spark runtime jar.

The reference's flagship lakehouse scenario is the Iceberg catalog unit
(`AbstractIcebergCatalogUnit.scala:28-66`; time-travel test
`RegisterIcebergDataSourceTestSuite.scala:151-184`), permanently
un-executable here because the runtime jar is unobtainable (no network;
re-verified each round in PARITY.md). This module implements the public
Iceberg table spec (iceberg.apache.org/spec, format v1 and v2) for the
READ path:

- resolve the current `vN.metadata.json` via `version-hint.text` or the
  highest-numbered file in `metadata/`;
- pick a snapshot: current, `snapshot_id=`, or `as_of_timestamp=` via
  the snapshot log — the reference's VERSION AS OF / TIMESTAMP AS OF;
- read the snapshot's manifest list and manifests with the pure-Python
  Avro codec (`sources/avro_codec.py` — manifests are spec-mandated
  Avro), driver-side: these are planning metadata, KBs-to-MBs at 100 TB,
  the same files every Iceberg planner materializes;
- translate the Iceberg schema JSON to a Spark StructType (field-id
  table kept for diagnostics; resolution is by name, Spark's parquet
  reader null-fills columns missing from older data files);
- scan live data files (manifest-entry status != DELETED) with Spark's
  parquet reader — pushdown/pruning stay Catalyst's;
- apply v2 **position deletes** Spark-natively: the delete files'
  (file_path, pos) pairs anti-join the scan on
  `_metadata.file_path` / `_metadata.row_index` — no Python in the row
  path; **equality deletes** anti-join on the delete files' columns.

Identity-partition source columns are stored in Iceberg data files (the
spec writes full rows), so no partition-value injection is needed —
unlike Delta (`sources/delta_reader.py`).

Write path intentionally stays with the real runtime (a spec-complete
committing writer is jar territory); the unit raises a clear error.
"""

from __future__ import annotations

import json
import os
import re
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lightning_metastore_spark.sources import avro_codec as ac
from lightning_metastore_spark.sources.file_stats import (
    may_match,
    usable_conjuncts,
)


class IcebergError(Exception):
    pass


# ---------------------------------------------------------------------------
# metadata resolution
# ---------------------------------------------------------------------------

def latest_metadata_path(table_path: str) -> str:
    md = os.path.join(table_path, "metadata")
    if not os.path.isdir(md):
        raise IcebergError(f"not an Iceberg table (no metadata/): {table_path}")
    hint = os.path.join(md, "version-hint.text")
    if os.path.exists(hint):
        v = open(hint).read().strip()
        cand = os.path.join(md, f"v{v}.metadata.json")
        if os.path.exists(cand):
            return cand
    versioned = []
    for f in os.listdir(md):
        m = re.fullmatch(r"v(\d+)\.metadata\.json", f)
        if m:
            versioned.append((int(m.group(1)), f))
    if versioned:
        return os.path.join(md, max(versioned)[1])
    any_md = sorted(f for f in os.listdir(md) if f.endswith(".metadata.json"))
    if any_md:
        return os.path.join(md, any_md[-1])
    raise IcebergError(f"no metadata.json under {md}")


def load_metadata(table_path: str) -> dict:
    with open(latest_metadata_path(table_path)) as fh:
        meta = json.load(fh)
    # format v3 adds deletion vectors and row lineage; reading such a
    # table as if it were v2 could silently return deleted rows — the
    # PUFFIN file-format raise would catch most cases incidentally, but
    # the spec-correct behavior is to refuse the table up front
    fv = int(meta.get("format-version", 1))
    if fv > 2:
        raise IcebergError(
            f"Iceberg format-version {fv} is not supported by the "
            f"offline reader (v1/v2 only): {table_path}")
    return meta


def current_schema(meta: dict) -> dict:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        for s in meta["schemas"]:
            if s.get("schema-id") == sid:
                return s
        return meta["schemas"][-1]
    return meta["schema"]  # format v1


def select_snapshot(meta: dict, snapshot_id: Optional[int] = None,
                    as_of_timestamp: Optional[int] = None) -> dict:
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if not snaps:
        raise IcebergError("table has no snapshots")
    if as_of_timestamp is not None:
        log = meta.get("snapshot-log", [])
        eligible = [e for e in log if e["timestamp-ms"] <= as_of_timestamp]
        if not eligible:
            raise IcebergError(
                f"no snapshot at or before timestamp {as_of_timestamp}")
        snapshot_id = eligible[-1]["snapshot-id"]
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    if snapshot_id not in snaps:
        raise IcebergError(f"snapshot {snapshot_id} not found "
                           f"(have {sorted(snaps)})")
    return snaps[snapshot_id]


# ---------------------------------------------------------------------------
# Iceberg schema JSON -> Spark
# ---------------------------------------------------------------------------

_PRIM = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "string": T.StringType(),
    "uuid": T.StringType(),
    "binary": T.BinaryType(),
    "time": T.LongType(),  # micros since midnight; Spark has no TimeType
}


def to_spark_type(itype: Any) -> T.DataType:
    if isinstance(itype, str):
        if itype in _PRIM:
            return _PRIM[itype]
        m = re.fullmatch(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)", itype)
        if m:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
        m = re.fullmatch(r"fixed\[(\d+)\]", itype)
        if m:
            return T.BinaryType()
        raise IcebergError(f"unsupported Iceberg type: {itype}")
    t = itype["type"]
    if t == "struct":
        return T.StructType([
            T.StructField(f["name"], to_spark_type(f["type"]),
                          nullable=not f.get("required", False))
            for f in itype["fields"]])
    if t == "list":
        return T.ArrayType(to_spark_type(itype["element"]),
                           containsNull=not itype.get("element-required",
                                                      False))
    if t == "map":
        return T.MapType(to_spark_type(itype["key"]),
                         to_spark_type(itype["value"]),
                         valueContainsNull=not itype.get("value-required",
                                                         False))
    raise IcebergError(f"unsupported Iceberg type node: {itype}")


def spark_schema(meta: dict) -> T.StructType:
    return to_spark_type(current_schema(meta))  # top level is a struct


# ---------------------------------------------------------------------------
# manifest walking
# ---------------------------------------------------------------------------

_STATUS_DELETED = 2
_CONTENT_DATA = 0
_CONTENT_POSITION_DELETES = 1
_CONTENT_EQUALITY_DELETES = 2


def _local(p: str) -> str:
    """file:///x, file:/x, and /x all mean /x on this filesystem."""
    return re.sub(r"^file:/+", "/", p)


def snapshot_files(table_path: str, snapshot: dict,
                   with_partitions: bool = False, admit=None
                   ) -> tuple[list[tuple], list[str], list[tuple]]:
    """Snapshot contents as (data, position_deletes, equality_deletes):
    data = [(path, data_sequence_number)] — or
    [(path, seq, partition_dict, stats_field_ids)] with
    ``with_partitions`` —
    position_deletes = [path], equality_deletes = [(path,
    sequence_number, equality_ids)]. The sequence number comes from
    the manifest entry, inherited from the manifest-list record when
    the entry omits it (the v2 inheritance rule); absent everywhere
    (v1) it is None. ``admit``, when given, is called on each data
    file's manifest record and drops the file when it returns False
    (file skipping, `_data_file_test`)."""
    mlist = _local(snapshot["manifest-list"])
    data, pos_del, eq_del = {}, set(), {}
    for mrec in ac.iter_records(mlist):
        mpath = _local(mrec["manifest_path"])
        m_seq = mrec.get("sequence_number")
        for entry in ac.iter_records(mpath):
            if entry.get("status") == _STATUS_DELETED:
                continue
            seq = entry.get("sequence_number")
            if seq is None:
                seq = m_seq
            df_rec = entry["data_file"]
            content = df_rec.get("content", _CONTENT_DATA) or _CONTENT_DATA
            fpath = _local(df_rec["file_path"])
            fmt = str(df_rec.get("file_format", "PARQUET")).upper()
            if fmt != "PARQUET":
                raise IcebergError(
                    f"only PARQUET data files supported offline, got {fmt}")
            if content == _CONTENT_DATA:
                if admit is not None and not admit(df_rec):
                    continue
                # field ids the manifest PROVES are physically in the
                # file (value_counts/bounds come from its footer) —
                # the identity-partition injection decision reads this
                stat_fids = {int(kv["key"])
                             for key in ("value_counts", "lower_bounds")
                             for kv in (df_rec.get(key) or [])}
                data[fpath] = (seq, dict(df_rec.get("partition") or {}),
                               stat_fids)
            elif content == _CONTENT_POSITION_DELETES:
                pos_del.add(fpath)
            elif content == _CONTENT_EQUALITY_DELETES:
                eq_del[fpath] = (seq, list(df_rec.get("equality_ids")
                                           or []))
    if with_partitions:
        data_out = sorted((p, s, pv, fids)
                          for p, (s, pv, fids) in data.items())
    else:
        data_out = sorted((p, s) for p, (s, _pv, _f) in data.items())
    return (data_out, sorted(pos_del),
            sorted((p, s, ids) for p, (s, ids) in eq_del.items()))


# ---------------------------------------------------------------------------
# the read
# ---------------------------------------------------------------------------

def _identity_groups(meta: dict, files: list[tuple]
                     ) -> tuple[list[str], list[tuple]]:
    """Partition the data files of a scan by the identity-injection
    rule: ``files`` = [(path, partition_dict, stats_field_ids)] ->
    (stored_paths, groups) where groups = [(missing_schema_cols,
    {schema_col: value}, paths)]. A file whose manifest stats
    (value_counts/bounds) carry an identity source column's field id
    provably stores the column — it scans as-is; files without that
    proof (Hive-migrated `add_files` imports) get the manifest
    partition constants injected.

    The manifest `partition` record is keyed by the PARTITION-SPEC
    FIELD's name (`f["name"]` of the spec field), which diverges from
    the schema column name when the source column was renamed after
    the spec was created — exactly the migrated tables this targets —
    so the value lookup uses the spec field name while the output
    column is emitted under the schema name resolved via source-id."""
    spec = next((s for s in meta.get("partition-specs", [])
                 if s.get("spec-id") == meta.get("default-spec-id", 0)),
                {"fields": []})
    by_id = {f["id"]: f["name"]
             for f in current_schema(meta)["fields"]}
    # (schema column name, source field id, spec field name)
    ident = [(by_id[f["source-id"]], int(f["source-id"]), f["name"])
             for f in spec.get("fields", [])
             if f.get("transform") == "identity"
             and f.get("source-id") in by_id]
    stored: list[str] = []
    groups: dict[tuple, tuple[list, dict, list[str]]] = {}
    for p, pv, fids in files:
        missing = [(c, spec_name) for c, fid, spec_name in ident
                   if fid not in fids]
        if not missing:
            stored.append(p)
        else:
            vals = {c: pv.get(spec_name) for c, spec_name in missing}
            key = tuple(sorted(vals.items()))
            groups.setdefault(
                key, ([c for c, _ in missing], vals, []))[2].append(p)
    return stored, list(groups.values())


def read_iceberg(spark: SparkSession, table_path: str,
                 snapshot_id: Optional[int] = None,
                 as_of_timestamp: Optional[int] = None,
                 file_tag: Optional[str] = None,
                 file_subset: Optional[set] = None,
                 prune: Optional[list[tuple]] = None,
                 pos_tag: Optional[str] = None) -> DataFrame:
    """Snapshot scan. ``file_tag`` appends a column with each row's
    normalized source-file path (`file:` scheme stripped — the
    position-delete join's normalization), used by the file-granular
    DELETE; ``file_subset`` restricts the scan to the given local data
    file paths (the DELETE survivor-rewrite pass — position/equality
    deletes still apply). ``prune`` = [(col, op, literal), ...] simple
    top-level conjuncts of the consumer's WHERE clause: data files
    whose manifest Appendix-D bounds prove no match are dropped from
    the scan at PLANNING time, in the same manifest walk that lists
    the files (`_data_file_test` — sound, advisory; the caller still
    applies its full predicate)."""
    meta = load_metadata(table_path)
    snap = select_snapshot(meta, snapshot_id, as_of_timestamp)
    schema = spark_schema(meta)
    data, pos_del, eq_del = snapshot_files(
        table_path, snap, with_partitions=True,
        admit=_data_file_test(meta, prune, spark.conf.get(
            "spark.sql.session.timeZone")) if prune else None)
    if file_subset is not None:
        data = [t for t in data if t[0] in file_subset]
    if not data:
        df = spark.createDataFrame([], schema)
        if file_tag:
            df = df.withColumn(file_tag, F.lit(None).cast("string"))
        if pos_tag:
            df = df.withColumn(pos_tag, F.lit(None).cast("long"))
        return df

    # Identity-partition constant injection: the spec normally stores
    # identity source columns IN the data files (what this repo's
    # writer does — their constant parquet min/max stats make
    # partition filters file-skipping predicates). But Hive-MIGRATED
    # tables (add_files) register files WITHOUT those columns; real
    # readers constant-ize the values from the manifest partition
    # tuple. The decision is PER FILE from manifest metadata alone
    # (no footer I/O) — see `_identity_groups`.
    stored_paths, groups = _identity_groups(
        meta, [(p, pv, fids) for p, _s, pv, fids in data])

    # scan-level pseudo-columns must be derived INSIDE each scan
    # branch (referencing _metadata above a union does not resolve),
    # so both paths materialize them up front when any consumer needs
    # them
    need_meta = bool(file_tag or pos_tag or pos_del or eq_del)
    meta_cols = {
        "__ice_file": F.regexp_replace(F.col("_metadata.file_path"),
                                       r"^file:/+", "/"),
        "__ice_pos": F.col("_metadata.row_index"),
    }
    if groups:
        field_by_name = {f.name: f for f in schema.fields}
        keep = [f.name for f in schema.fields] + (
            list(meta_cols) if need_meta else [])
        parts = []
        if stored_paths:
            d = spark.read.schema(schema).parquet(*stored_paths)
            if need_meta:
                d = d.withColumns(meta_cols)
            parts.append(d.select(*keep))
        for missing, pv, paths in groups:
            red = T.StructType([f for f in schema.fields
                                if f.name not in missing])
            d = spark.read.schema(red).parquet(*paths)
            if need_meta:
                d = d.withColumns(meta_cols)
            for c in missing:
                v = pv.get(c)
                d = d.withColumn(c, (F.lit(None) if v is None
                                     else F.lit(v)).cast(
                    field_by_name[c].dataType))
            parts.append(d.select(*keep))
        df = parts[0]
        for d in parts[1:]:
            df = df.unionByName(d)
    else:
        df = spark.read.schema(schema).parquet(
            *[p for p, _s, _pv, _f in data])
        if need_meta:
            df = df.withColumns(meta_cols)

    if file_tag:
        df = df.withColumn(file_tag, F.col("__ice_file"))
    if pos_tag:
        df = df.withColumn(pos_tag, F.col("__ice_pos"))
    if pos_del:
        dels = (spark.read.parquet(*pos_del)
                .select(F.regexp_replace(F.col("file_path"),
                                         r"^file:/+", "/").alias("__ice_file"),
                        F.col("pos").cast("long").alias("__ice_pos"))
                .dropDuplicates(["__ice_file", "__ice_pos"]))
        df = df.join(F.broadcast(dels) if len(pos_del) <= 64 else dels,
                     ["__ice_file", "__ice_pos"], "left_anti")
    if eq_del:
        # v2 equality deletes: a delete applies only to rows from data
        # files with a STRICTLY OLDER data sequence number, matching on
        # the entry's equality_ids columns (null-safe, per spec). Data
        # file seq numbers ride a broadcast (path, seq) relation onto
        # the scan's __ice_file; a delete with no sequence number
        # (v1-style fixture) applies unconditionally.
        field_names = {f["id"]: f["name"]
                       for f in current_schema(meta)["fields"]}
        seq_df = spark.createDataFrame(
            [(p, s) for p, s, _pv, _f in data],
            T.StructType([T.StructField("__ice_file", T.StringType()),
                          T.StructField("__ice_seq", T.LongType())]))
        df = df.join(F.broadcast(seq_df), "__ice_file", "left")
        for dpath, dseq, eq_ids in eq_del:
            dels = spark.read.parquet(dpath)
            keys = ([field_names[i] for i in eq_ids if i in field_names]
                    or dels.columns)
            d = (dels.select(*[F.col(k).alias(f"__d_{k}") for k in keys])
                 .dropDuplicates())
            cond = None
            for k in keys:
                c = df[k].eqNullSafe(F.col(f"__d_{k}"))
                cond = c if cond is None else (cond & c)
            if dseq is not None:
                cond = cond & (F.coalesce(F.col("__ice_seq"), F.lit(0))
                               < F.lit(int(dseq)))
            df = df.join(F.broadcast(d), cond, "left_anti")
        df = df.drop("__ice_seq")
    out_cols = ([f.name for f in schema.fields]
                + ([file_tag] if file_tag else [])
                + ([pos_tag] if pos_tag else []))
    return df.select(*out_cols)


def iceberg_history(spark: SparkSession, table_path: str) -> DataFrame:
    """The Iceberg `history` metadata table (made_current_at,
    snapshot_id, parent_id, is_current_ancestor) — what the reference's
    time-travel test reads to pick a snapshot id
    (`RegisterIcebergDataSourceTestSuite.scala:174-184`)."""
    import datetime as dt
    meta = load_metadata(table_path)
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    # current ancestry = walk parent links from the current snapshot
    ancestors = set()
    cur = meta.get("current-snapshot-id")
    while cur in snaps:
        ancestors.add(cur)
        cur = snaps[cur].get("parent-snapshot-id")
    rows = []
    log = meta.get("snapshot-log") or [
        {"timestamp-ms": s["timestamp-ms"], "snapshot-id": sid}
        for sid, s in sorted(snaps.items())]
    for e in log:
        sid = e["snapshot-id"]
        rows.append((
            dt.datetime.fromtimestamp(e["timestamp-ms"] / 1000.0),
            sid,
            snaps.get(sid, {}).get("parent-snapshot-id"),
            sid in ancestors,
        ))
    schema = T.StructType([
        T.StructField("made_current_at", T.TimestampType(), True),
        T.StructField("snapshot_id", T.LongType(), False),
        T.StructField("parent_id", T.LongType(), True),
        T.StructField("is_current_ancestor", T.BooleanType(), False),
    ])
    return spark.createDataFrame(rows, schema)


def iceberg_snapshots(spark: SparkSession, table_path: str) -> DataFrame:
    """The Iceberg `snapshots` metadata table (committed_at,
    snapshot_id, parent_id, operation, manifest_list, summary) — the
    runtime's companion to `history` for audit queries."""
    import datetime as dt
    meta = load_metadata(table_path)
    rows = []
    for s in meta.get("snapshots", []):
        summary = {k: str(v) for k, v in (s.get("summary") or {}).items()}
        rows.append((
            dt.datetime.fromtimestamp(s["timestamp-ms"] / 1000.0),
            int(s["snapshot-id"]),
            (None if s.get("parent-snapshot-id") is None
             else int(s["parent-snapshot-id"])),
            summary.get("operation"),
            s.get("manifest-list"),
            summary,
        ))
    schema = T.StructType([
        T.StructField("committed_at", T.TimestampType(), True),
        T.StructField("snapshot_id", T.LongType(), False),
        T.StructField("parent_id", T.LongType(), True),
        T.StructField("operation", T.StringType(), True),
        T.StructField("manifest_list", T.StringType(), True),
        T.StructField("summary",
                      T.MapType(T.StringType(), T.StringType()), True),
    ])
    return spark.createDataFrame(rows, schema)


def decode_single_value(b: Optional[bytes], itype) -> Any:
    """Inverse of the spec's Appendix-D single-value serialization
    (manifest lower/upper bounds). Unknown/complex types decode to
    None — a reader must treat an undecodable bound as unknowable."""
    import struct
    if b is None or not isinstance(itype, str):
        return None
    try:
        if itype == "int":
            return struct.unpack("<i", b)[0]
        if itype == "long":
            return struct.unpack("<q", b)[0]
        if itype == "float":
            return struct.unpack("<f", b)[0]
        if itype == "double":
            return struct.unpack("<d", b)[0]
        if itype == "boolean":
            return b != b"\x00"
        if itype == "date":
            import datetime as dt
            return (dt.date(1970, 1, 1)
                    + dt.timedelta(days=struct.unpack("<i", b)[0]))
        if itype in ("timestamp", "timestamptz"):
            import datetime as dt
            return (dt.datetime(1970, 1, 1)
                    + dt.timedelta(microseconds=struct.unpack("<q",
                                                              b)[0]))
        if itype == "string":
            return b.decode("utf-8")
        if itype == "binary":
            return bytes(b)
        m = re.fullmatch(r"decimal\(\s*\d+\s*,\s*(\d+)\s*\)", itype)
        if m:
            import decimal
            unscaled = int.from_bytes(b, "big", signed=True)
            # scaleb in a 38-digit context: the default 28 digits would
            # round a DECIMAL(p>28) bound
            return decimal.Decimal(unscaled).scaleb(
                -int(m.group(1)), decimal.Context(prec=38))
    except Exception:  # noqa: BLE001 — malformed bound = unknowable
        return None
    return None


def _bounds_map(d: dict, key: str) -> dict:
    """{field id: raw bytes} from a manifest entry's bound field (the
    avro array-of-kv-records encoding of an int-keyed map)."""
    out = {}
    for kv in d.get(key) or []:
        if kv.get("value") is not None:
            out[int(kv["key"])] = bytes(kv["value"])
    return out


def _counts(d: dict, key: str) -> Optional[dict]:
    """{field id: count} from a manifest entry's count field, or None
    when the entry has none."""
    kvs = d.get(key)
    if kvs is None:
        return None
    return {int(kv["key"]): int(kv["value"]) for kv in kvs
            if kv.get("value") is not None}


def _data_file_test(meta: dict, prune, session_tz: Optional[str]):
    """A test of a manifest `data_file` record that is False when its
    record count, null counts and Appendix-D bounds prove no row
    matches every usable ``(col, op, literal)`` conjunct
    (`file_stats.may_match`) — no parquet footer is opened. None when
    no conjunct is usable."""
    conds = usable_conjuncts(prune, spark_schema(meta), session_tz)
    if not conds:
        return None
    by_name = {f["name"]: (f["id"], f.get("type"))
               for f in current_schema(meta)["fields"]}

    def test(d: dict) -> bool:
        nulls = _counts(d, "null_value_counts") or {}
        lows, highs = (_bounds_map(d, k)
                       for k in ("lower_bounds", "upper_bounds"))

        def col(name: str) -> tuple:
            fid, itype = by_name[name]
            return (d.get("record_count"), nulls.get(fid),
                    decode_single_value(lows.get(fid), itype),
                    decode_single_value(highs.get(fid), itype))
        return all(may_match(op, v, *col(c)) for c, op, v in conds)
    return test


def prune_data_files(table_path: str, prune: list[tuple],
                     snapshot_id: Optional[int] = None,
                     session_tz: Optional[str] = None
                     ) -> tuple[list[str], list[str]]:
    """Manifest-bounds file pruning: (candidates, skipped) LOCAL data
    file paths of a snapshot for the ``(col, op, literal)`` conjuncts,
    read in one walk of its manifests. Sound by construction: a file
    is skipped ONLY when its manifest entry proves no row can match;
    a conjunct that cannot prune is ignored. This is the planning-time
    half of predicate pushdown at 100 TB — the scan half (row-group
    skipping) still happens inside parquet for the kept files."""
    meta = load_metadata(table_path)
    test = _data_file_test(meta, prune, session_tz)
    skipped = set()

    def admit(d: dict) -> bool:
        if test is None or test(d):
            return True
        skipped.add(_local(d["file_path"]))
        return False
    data = snapshot_files(table_path, select_snapshot(meta, snapshot_id),
                          admit=admit)[0]
    cands = [p for p, _s in data]
    return cands, sorted(skipped - set(cands))


def iceberg_files(spark: SparkSession, table_path: str,
                  snapshot_id: Optional[int] = None) -> DataFrame:
    """The Iceberg `files` metadata table (the planner-visible subset:
    content, file_path, file_format, record_count, file_size_in_bytes,
    per-column value/null counts, and bounds rendered per column name
    — the spec's readable_metrics idea) for the current — or a named —
    snapshot."""
    meta = load_metadata(table_path)
    snap = select_snapshot(meta, snapshot_id)
    by_id = {f["id"]: (f["name"], f.get("type"))
             for f in current_schema(meta)["fields"]}

    def _readable(d: dict, key: str) -> Optional[dict]:
        raw = _bounds_map(d, key)
        if not raw:
            return None
        out = {}
        for fid, b in raw.items():
            name, itype = by_id.get(fid, (str(fid), None))
            v = decode_single_value(b, itype)
            out[name] = None if v is None else str(v)
        return out
    rows = []
    for mrec in ac.iter_records(_local(snap["manifest-list"])):
        for entry in ac.iter_records(_local(mrec["manifest_path"])):
            if entry.get("status") == _STATUS_DELETED:
                continue
            d = entry["data_file"]
            rows.append((
                int(d.get("content", _CONTENT_DATA) or _CONTENT_DATA),
                d["file_path"],
                str(d.get("file_format", "PARQUET")),
                int(d.get("record_count") or 0),
                int(d.get("file_size_in_bytes") or 0),
                _counts(d, "value_counts"),
                _counts(d, "null_value_counts"),
                _readable(d, "lower_bounds"),
                _readable(d, "upper_bounds"),
            ))
    schema = T.StructType([
        T.StructField("content", T.IntegerType(), False),
        T.StructField("file_path", T.StringType(), False),
        T.StructField("file_format", T.StringType(), True),
        T.StructField("record_count", T.LongType(), True),
        T.StructField("file_size_in_bytes", T.LongType(), True),
        T.StructField("value_counts",
                      T.MapType(T.IntegerType(), T.LongType()), True),
        T.StructField("null_value_counts",
                      T.MapType(T.IntegerType(), T.LongType()), True),
        T.StructField("readable_lower_bounds",
                      T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("readable_upper_bounds",
                      T.MapType(T.StringType(), T.StringType()), True),
    ])
    return spark.createDataFrame(rows, schema)


def _scan_with_identity_injection(spark: SparkSession, meta: dict,
                                  schema: T.StructType,
                                  files: list[tuple]) -> DataFrame:
    """Scan ``files`` = [(path, partition_dict, stats_field_ids)]
    honoring the identity-partition rule read_iceberg applies: files
    whose manifest stats prove an identity source column is stored
    scan as-is; the rest get the manifest constants injected (keyed
    by the SPEC FIELD name — see `_identity_groups`)."""
    stored, groups = _identity_groups(meta, files)
    if not groups:
        return spark.read.schema(schema).parquet(*stored)
    field_by_name = {f.name: f for f in schema.fields}
    out_cols = [f.name for f in schema.fields]
    parts = []
    if stored:
        parts.append(spark.read.schema(schema).parquet(*stored)
                     .select(*out_cols))
    for missing, pv, paths in groups:
        red = T.StructType([f for f in schema.fields
                            if f.name not in missing])
        d = spark.read.schema(red).parquet(*paths)
        for c in missing:
            v = pv.get(c)
            d = d.withColumn(c, (F.lit(None) if v is None
                                 else F.lit(v)).cast(
                field_by_name[c].dataType))
        parts.append(d.select(*out_cols))
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d)
    return out


def iceberg_incremental(spark: SparkSession, table_path: str,
                        from_snapshot_id: int,
                        to_snapshot_id: Optional[int] = None
                        ) -> DataFrame:
    """Incremental APPEND scan — the Iceberg runtime's incremental
    read (`start-snapshot-id`/`end-snapshot-id`) and the Delta CDF's
    twin: rows added strictly AFTER ``from_snapshot_id`` up to
    ``to_snapshot_id`` (default: current), each tagged with
    `_snapshot_id`. At 100 TB a downstream consumer reads only the new
    files of the snapshots it missed instead of diffing two full
    table scans.

    Walks the snapshot lineage parent-by-parent; every snapshot in
    range must be an `append` (overwrite/delete/replace row-level
    changes are not derivable from appended files — the runtime
    raises there too). Each snapshot contributes the manifest entries
    it ADDED (status 1 with its own snapshot id); planning cost is
    manifest-bounded, and the per-snapshot scans stay separate so the
    file lists never mix."""
    meta = load_metadata(table_path)
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if from_snapshot_id not in snaps:
        raise IcebergError(
            f"unknown from_snapshot_id {from_snapshot_id}")
    to_id = (meta.get("current-snapshot-id") if to_snapshot_id is None
             else to_snapshot_id)
    if to_id not in snaps:
        raise IcebergError(f"unknown to_snapshot_id {to_id}")
    lineage: list[dict] = []
    cur = snaps[to_id]
    while cur is not None and cur["snapshot-id"] != from_snapshot_id:
        lineage.append(cur)
        parent = cur.get("parent-snapshot-id")
        cur = snaps.get(parent) if parent is not None else None
    if cur is None:
        raise IcebergError(
            f"snapshot {from_snapshot_id} is not an ancestor of "
            f"{to_id} — cannot read incrementally across branches")
    lineage.reverse()   # oldest -> newest
    schema = spark_schema(meta)
    out_schema = T.StructType(
        list(schema.fields)
        + [T.StructField("_snapshot_id", T.LongType(), False)])
    chunks: list[DataFrame] = []
    for s in lineage:
        op = (s.get("summary") or {}).get("operation", "append")
        if op != "append":
            raise IcebergError(
                f"snapshot {s['snapshot-id']} is '{op}': incremental "
                f"reads cover append-only ranges — row-level changes "
                f"of {op} snapshots are not derivable from added "
                f"files")
        sid = int(s["snapshot-id"])
        added: dict[str, tuple[dict, set]] = {}
        for mrec in ac.iter_records(_local(s["manifest-list"])):
            if mrec.get("added_snapshot_id") not in (None, sid):
                continue  # manifest carried over from an ancestor
            for entry in ac.iter_records(_local(mrec["manifest_path"])):
                if (entry.get("status") == 1
                        and (entry.get("snapshot_id") in (None, sid))):
                    d = entry["data_file"]
                    if int(d.get("content", _CONTENT_DATA)
                           or _CONTENT_DATA) != _CONTENT_DATA:
                        continue
                    fmt = str(d.get("file_format", "PARQUET")).upper()
                    if fmt != "PARQUET":
                        raise IcebergError(
                            f"only PARQUET data files supported "
                            f"offline, got {fmt}")
                    fids = {int(kv["key"])
                            for key in ("value_counts", "lower_bounds")
                            for kv in (d.get(key) or [])}
                    added[_local(d["file_path"])] = (
                        dict(d.get("partition") or {}), fids)
        if not added:
            continue
        part = _scan_with_identity_injection(
            spark, meta, schema,
            [(p, pv, fids) for p, (pv, fids) in sorted(added.items())])
        chunks.append(
            part.withColumn("_snapshot_id", F.lit(sid).cast("long")))
    if not chunks:
        return spark.createDataFrame([], out_schema)
    out = chunks[0]
    for c in chunks[1:]:
        out = out.unionByName(c)
    return out


def iceberg_changelog(spark: SparkSession, table_path: str,
                      from_snapshot_id: Optional[int] = None,
                      to_snapshot_id: Optional[int] = None
                      ) -> DataFrame:
    """CHANGELOG scan (r17) — the runtime's `create_changelog_view`
    procedure and the Delta CDF's full twin: row-level changes
    strictly AFTER ``from_snapshot_id`` (None = the full history) up
    to ``to_snapshot_id`` (default current), tagged `_change_type` (insert / delete) and
    `_snapshot_id`. Where `iceberg_incremental` refuses anything but
    appends, this derives every snapshot kind:

    - appended data files -> `insert` rows (the snapshot's own
      deletes applied, so rows dead on arrival never surface);
    - data files REMOVED by copy-on-write DELETE/UPDATE/MERGE ->
      `delete` rows, read from the still-present files AS OF the
      PARENT snapshot (parent deletes applied — only rows live
      before the change report);
    - merge-on-read POSITION deletes added -> `delete` rows via the
      (file, pos) join against the parent scan;
    - merge-on-read EQUALITY deletes added (`upsert_iceberg`) ->
      `delete` rows via a null-safe key semi-join against the parent
      scan;
    - `replace` snapshots (OPTIMIZE / ZORDER / PURGE / REWRITE
      MANIFESTS) are SKIPPED — physical layout changed, logical
      content did not (the runtime's changelog does the same).

    Copy-on-write UPDATE/MERGE report as delete+insert of the
    touched files' rows (the derivation bound every engine shares
    without per-commit cdc); merge-on-read snapshots report exactly
    the changed rows. At 100 TB the planning cost is
    manifest-bounded and the read cost is bounded by the CHANGED
    files, never the table."""
    meta = load_metadata(table_path)
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if from_snapshot_id is not None and from_snapshot_id not in snaps:
        raise IcebergError(
            f"unknown from_snapshot_id {from_snapshot_id}")
    to_id = (meta.get("current-snapshot-id") if to_snapshot_id is None
             else to_snapshot_id)
    if to_id not in snaps:
        raise IcebergError(f"unknown to_snapshot_id {to_id}")
    lineage: list[dict] = []
    cur = snaps.get(to_id)
    while cur is not None and cur["snapshot-id"] != from_snapshot_id:
        lineage.append(cur)
        parent = cur.get("parent-snapshot-id")
        cur = snaps.get(parent) if parent is not None else None
    if cur is None and from_snapshot_id is not None:
        raise IcebergError(
            f"snapshot {from_snapshot_id} is not an ancestor of "
            f"{to_id} — cannot read a changelog across branches")
    lineage.reverse()   # oldest -> newest (None from = full history)
    schema = spark_schema(meta)
    name_by_id = {f["id"]: f["name"]
                  for f in current_schema(meta)["fields"]}
    out_schema = T.StructType(
        list(schema.fields)
        + [T.StructField("_change_type", T.StringType(), False),
           T.StructField("_snapshot_id", T.LongType(), False)])
    base = [f.name for f in schema.fields]

    def _tag(df: DataFrame, ctype: str, sid: int) -> DataFrame:
        return (df.select(*base)
                .withColumn("_change_type", F.lit(ctype))
                .withColumn("_snapshot_id",
                            F.lit(int(sid)).cast("long")))

    chunks: list[DataFrame] = []
    for s in lineage:
        sid = int(s["snapshot-id"])
        op = (s.get("summary") or {}).get("operation", "append")
        if op == "replace":
            continue  # physical rewrite, no logical change
        parent_id = s.get("parent-snapshot-id")
        parent = snaps.get(parent_id)
        data_s, pos_s, eq_s = snapshot_files(table_path, s)
        if parent is not None:
            data_p, pos_p, eq_p = snapshot_files(table_path, parent)
        else:
            data_p, pos_p, eq_p = [], [], []
        dp = {p for p, _s2 in data_p}
        ds_ = {p for p, _s2 in data_s}
        added = ds_ - dp
        removed = dp - ds_
        if added:
            chunks.append(_tag(
                read_iceberg(spark, table_path, snapshot_id=sid,
                             file_subset=added), "insert", sid))
        if removed and parent is not None:
            chunks.append(_tag(
                read_iceberg(spark, table_path,
                             snapshot_id=int(parent_id),
                             file_subset=removed), "delete", sid))
        new_pos = sorted(set(pos_s) - set(pos_p))
        if new_pos and parent is not None:
            refs = {_local(r[0]) for r in
                    spark.read.parquet(*new_pos)
                    .select("file_path").distinct().collect()}
            tagged = read_iceberg(spark, table_path,
                                  snapshot_id=int(parent_id),
                                  file_tag="__cl_file",
                                  pos_tag="__cl_pos",
                                  file_subset=refs & dp)
            dels = (spark.read.parquet(*new_pos)
                    .select(F.regexp_replace(F.col("file_path"),
                                             r"^file:/+", "/")
                            .alias("__cl_file"),
                            F.col("pos").cast("long")
                            .alias("__cl_pos"))
                    .dropDuplicates(["__cl_file", "__cl_pos"]))
            chunks.append(_tag(
                tagged.join(F.broadcast(dels),
                            ["__cl_file", "__cl_pos"], "inner"),
                "delete", sid))
        new_eq = sorted(set((p, q, tuple(ids or []))
                            for p, q, ids in eq_s)
                        - set((p, q, tuple(ids or []))
                              for p, q, ids in eq_p))
        if new_eq and parent is not None:
            pscan = read_iceberg(spark, table_path,
                                 snapshot_id=int(parent_id))
            for dpath, _dseq, eq_ids in new_eq:
                keys = ([name_by_id[i] for i in eq_ids
                         if i in name_by_id]
                        or spark.read.parquet(dpath).columns)
                kdf = (spark.read.parquet(dpath)
                       .select(*[F.col(f"`{k}`").alias(f"__d_{k}")
                                 for k in keys]).dropDuplicates())
                cond = None
                for k in keys:
                    c = pscan[k].eqNullSafe(F.col(f"__d_{k}"))
                    cond = c if cond is None else (cond & c)
                chunks.append(_tag(
                    pscan.join(F.broadcast(kdf), cond, "left_semi"),
                    "delete", sid))
    if not chunks:
        return spark.createDataFrame([], out_schema)
    out = chunks[0]
    for c in chunks[1:]:
        out = out.unionByName(c)
    return out


def iceberg_partitions(spark: SparkSession, table_path: str,
                       snapshot_id: Optional[int] = None) -> DataFrame:
    """The Iceberg `partitions` metadata table (the planner-visible
    subset: partition tuple rendered per column, record_count,
    file_count, total_data_file_size_in_bytes) — the skew/size audit
    surface: at 100 TB the FIRST question about a slow scan is "which
    partitions are fat", answered here from manifests alone."""
    meta = load_metadata(table_path)
    snap = select_snapshot(meta, snapshot_id)
    agg: dict = {}
    for mrec in ac.iter_records(_local(snap["manifest-list"])):
        for entry in ac.iter_records(_local(mrec["manifest_path"])):
            if entry.get("status") == _STATUS_DELETED:
                continue
            d = entry["data_file"]
            if int(d.get("content", _CONTENT_DATA)
                   or _CONTENT_DATA) != _CONTENT_DATA:
                continue
            pv = d.get("partition") or {}
            key = tuple(sorted((k, None if v is None else str(v))
                               for k, v in pv.items()))
            cur = agg.setdefault(key, [0, 0, 0])
            cur[0] += int(d.get("record_count") or 0)
            cur[1] += 1
            cur[2] += int(d.get("file_size_in_bytes") or 0)
    rows = [(dict(k) or None, rc, fc, sz)
            for k, (rc, fc, sz) in sorted(agg.items())]
    schema = T.StructType([
        T.StructField("partition",
                      T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("record_count", T.LongType(), False),
        T.StructField("file_count", T.IntegerType(), False),
        T.StructField("total_data_file_size_in_bytes",
                      T.LongType(), False),
    ])
    return spark.createDataFrame(rows, schema)


def list_iceberg_tables(base_path: str) -> list[str]:
    """Directories under base_path that carry Iceberg metadata."""
    if not os.path.isdir(base_path):
        return []
    return sorted(
        e for e in os.listdir(base_path)
        if os.path.isdir(os.path.join(base_path, e, "metadata")))
