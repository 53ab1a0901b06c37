"""A parquet file table takes its schema from one footer read on the
driver (`FileCatalogUnit._footer_schema`) instead of Spark's schema
inference job. Differential: on every fixture the loaded schema and the
DESCRIBE TABLE rows equal what `spark.read.parquet` infers (nullability
and field metadata included), an error is the one inference raises, and
only the fallbacks run a Spark job."""

from __future__ import annotations

import datetime
import decimal
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lightning_metastore_spark.context import LightningContext

# table -> whether its first load reads the schema from a footer
FAST = {"types": True, "spark_dir": True, "int96": True, "nanos": True,
        "parted": False}
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("lake")
    types = pa.schema([
        pa.field("id", pa.int64(), nullable=False),
        pa.field("n", pa.int32()),
        pa.field("x", pa.float64()),
        pa.field("s", pa.string(), nullable=False),
        pa.field("d", pa.date32()),
        pa.field("amount", pa.decimal128(12, 2)),
        pa.field("ts", pa.timestamp("us")),
        pa.field("ts_utc", pa.timestamp("us", tz="UTC")),
        pa.field("blob", pa.binary()),
        pa.field("tags", pa.list_(pa.int64())),
        pa.field("pt", pa.struct([pa.field("a", pa.int32(), nullable=False),
                                  pa.field("b", pa.string())])),
        pa.field("attrs", pa.map_(pa.string(), pa.int64())),
    ])
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
    pq.write_table(pa.Table.from_pylist([{
        "id": 1, "n": 2, "x": 0.5, "s": "a", "d": datetime.date(2024, 1, 2),
        "amount": decimal.Decimal("12.34"), "ts": ts, "ts_utc": ts,
        "blob": b"\x00\x01", "tags": [1, 2], "pt": {"a": 1, "b": "z"},
        "attrs": [("k", 1)]}], schema=types), root / "types.parquet")
    pq.write_table(pa.table({"ts": pa.array([ts], pa.timestamp("us"))}),
                   root / "int96.parquet", use_deprecated_int96_timestamps=True)
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}),
                   root / "nanos.parquet", coerce_timestamps=None,
                   version="2.6")
    # Spark's writer stores its own schema in each footer's row metadata
    (spark.range(6)
     .select(F.col("id").alias("k", metadata={"comment": "key"}),
             F.lit("2024-01-02 03:04:05").cast("timestamp_ntz").alias("ts"),
             F.col("id").cast("string").cast("varchar(8)").alias("v"))
     .repartition(3).write.parquet(str(root / "spark_dir")))
    (spark.range(4).select("id", (F.col("id") % 2).alias("p"))
     .write.partitionBy("p").parquet(str(root / "parted")))
    os.mkdir(root / "empty")
    # two files with different columns, one schema only when merged
    os.mkdir(root / "merged")
    pq.write_table(pa.table({"a": [1]}), root / "merged" / "f1.parquet")
    pq.write_table(pa.table({"b": ["x"]}), root / "merged" / "f2.parquet")
    return root


def _ctx(spark, tmp_path, lake):
    ctx = LightningContext(spark, warehouse=str(tmp_path / f"m{uuid.uuid4().hex}"))
    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE lake OPTIONS(path '{lake}') "
            "NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE empty OPTIONS(path '{lake / 'empty'}') "
            "NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE merged OPTIONS(path "
            f"'{lake / 'merged'}', mergeSchema 'true') "
            "NAMESPACE lightning.datasource.file")
    return ctx


def _jobs(spark, fn):
    """(Spark jobs ``fn`` ran, its result)."""
    sc = spark.sparkContext
    group = f"file-schema-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "file schema")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _describe_rows(schema):
    return [(f.name, f.dataType.simpleString(), f.nullable)
            for f in schema.fields]


def _path(lake, table):
    return str(lake / table if (lake / table).is_dir()
               else lake / f"{table}.parquet")


@pytest.mark.parametrize("table", list(FAST))
def test_schema_matches_inference(spark, tmp_path, lake, table):
    ctx = _ctx(spark, tmp_path, lake)
    jobs, schema = _jobs(spark, lambda: ctx.resolver.load_table(
        ["datasource", "file", "lake", table]).schema)
    want = spark.read.parquet(_path(lake, table)).schema
    assert schema == want
    assert schema.json() == want.json()
    assert (jobs == 0) == FAST[table]
    rows = ctx.sql(f"DESCRIBE TABLE lightning.datasource.file.lake.{table}")
    assert [tuple(r) for r in rows.collect()] == _describe_rows(want)


def test_partition_columns_kept(spark, tmp_path, lake):
    ctx = _ctx(spark, tmp_path, lake)
    df = ctx.resolver.load_table(["datasource", "file", "lake", "parted"])
    assert df.columns == ["id", "p"]
    assert sorted(tuple(r) for r in df.collect()) == \
        [(0, 0), (1, 1), (2, 0), (3, 1)]


def test_merge_schema_option_falls_back(spark, tmp_path, lake):
    ctx = _ctx(spark, tmp_path, lake)
    jobs, schema = _jobs(spark, lambda: ctx.resolver.load_table(
        ["datasource", "file", "merged"]).schema)
    want = (spark.read.option("mergeSchema", "true")
            .parquet(str(lake / "merged")).schema)
    assert schema == want and schema.fieldNames() == ["a", "b"]
    assert jobs > 0


def _error(fn):
    with pytest.raises(Exception) as info:
        fn()
    e = info.value
    return type(e), e.getCondition(), str(e)


def test_empty_source_error_unchanged(spark, tmp_path, lake):
    ctx = _ctx(spark, tmp_path, lake)
    got = _error(lambda: ctx.resolver.load_table(
        ["datasource", "file", "empty"]))
    assert got == _error(lambda: spark.read.parquet(str(lake / "empty")))
    assert got[1] == "UNABLE_TO_INFER_SCHEMA"


def test_nanos_error_unchanged(spark, tmp_path, lake):
    """Without `nanosAsLong` the converter rejects a nanosecond
    timestamp; the load then fails with inference's own error."""
    ctx = _ctx(spark, tmp_path, lake)
    before = spark.conf.get(NANOS_CONF)
    spark.conf.set(NANOS_CONF, "false")
    try:
        got = _error(lambda: ctx.resolver.load_table(
            ["datasource", "file", "lake", "nanos"]))
        want = _error(lambda: spark.read.parquet(str(lake / "nanos.parquet")))
    finally:
        spark.conf.set(NANOS_CONF, before)
    assert got == want
    assert got[1] == "PARQUET_TYPE_ILLEGAL"


def test_parquet_table_load_runs_no_job(spark, tmp_path, lake):
    """DESCRIBE TABLE and a resolver load of a parquet file table, each
    on the table's first touch in its session, run no Spark job."""
    ctx = _ctx(spark, tmp_path, lake)
    jobs, rows = _jobs(spark, lambda: ctx.sql(
        "DESCRIBE TABLE lightning.datasource.file.lake.types").collect())
    assert jobs == 0 and len(rows) == 12
    ctx = _ctx(spark, tmp_path, lake)
    jobs, schema = _jobs(spark, lambda: ctx.resolver.load_table(
        ["datasource", "file", "lake", "spark_dir"]).schema)
    assert jobs == 0 and schema.fieldNames() == ["k", "ts", "v"]
