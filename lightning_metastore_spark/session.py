"""SparkSession factory tuned for this engine.

Local mode is a test vehicle; every config here is chosen to behave the
same on a 1000-executor cluster: AQE on (runtime re-plan + skew-join),
shuffle partitions sized to the parallelism at hand, Arrow enabled for
the Pandas-UDF slow path, UTC session time so results are oracle-stable.
"""

from __future__ import annotations

import functools
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(app_name: str = "lightning_metastore_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.warehouse.dir",
                os.path.join(tempfile.gettempdir(), "lightning-spark-warehouse"))
        # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and convert in load_tables.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # TIMESTAMP(MICROS) parquet without isAdjustedToUTC would otherwise
        # infer as TIMESTAMP_NTZ, which unix_micros()/CAST AS DOUBLE reject;
        # read as session-TZ timestamp (UTC here) — value-preserving.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    return builder.getOrCreate()


@functools.lru_cache(maxsize=256)
def _ddl_schema(ddl: str) -> StructType:
    """``StructType.fromDDL`` parses through the JVM (~2 ms of py4j);
    command DDL strings are constants, so each is parsed once per
    process. The StructType is shared: callers must not mutate it."""
    return StructType.fromDDL(ddl)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A small driver-side result (a command's rows, a report) as a
    DataFrame over a `LocalRelation`: its rows travel once as an Arrow
    table, so `collect()` runs no Spark job and starts no Python
    worker, where `createDataFrame(list)` parallelizes a Python RDD.
    ``schema`` is a DDL string or StructType and fixes the column
    types and nullability; ``rows`` are tuples in its column order."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = _ddl_schema(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def sql_with_views(spark: SparkSession, template: str, **dfs) -> DataFrame:
    """``spark.sql(template)`` analysed with each ``{name}`` standing
    for the DataFrame ``dfs[name]``, held in a temp view that lives only
    while the statement is analysed. The views are dropped from the
    session catalog directly: PySpark's `spark.sql(template, **dfs)`
    drops them through `spark.catalog.dropTempView`, which re-analyses
    each view (~1 ms) to uncache it, and so uncaches the user's cached
    DataFrame whose plan equals a relation's."""
    tag = uuid.uuid4().hex
    names = {k: f"_lightning_{tag}_{k}" for k in dfs}
    catalog = spark._jsparkSession.sessionState().catalog()
    try:
        for k, df in dfs.items():
            df.createOrReplaceTempView(names[k])
        return spark.sql(template.format(**names))
    finally:
        for name in names.values():
            catalog.dropTempView(name)


TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str,
                tables: tuple[str, ...] = TPCH_TABLES) -> dict:
    """Load the driver's parquet tables and register them as temp views.

    Parquet scans here get Catalyst's full treatment for free: column
    pruning, predicate pushdown, partition coalescing via AQE.
    """
    from pyspark.sql import functions as F

    # events.parquet has shipped as TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
    # in different driver builds; normalize BOTH to session-TZ timestamp
    # at micro precision. Set at runtime so this works on ANY
    # caller-provided session (the driver builds its own), not just ours
    # from get_spark().
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

    dfs = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            # Nanosecond timestamps arrive as long (nanosAsLong conf);
            # truncate to microseconds — matches DuckDB's epoch_us view.
            # TIMESTAMP_NTZ (micros parquet read before the conf above took
            # effect, or by a session that cached the schema) casts to
            # timestamp value-preserving under the UTC session timezone.
            for col, dtype in df.dtypes:
                if col == "ts" and dtype == "bigint":
                    df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
                elif col == "ts" and dtype == "timestamp_ntz":
                    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            df.createOrReplaceTempView(name)
            dfs[name] = df
    return dfs
