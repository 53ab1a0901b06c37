"""Per-source catalog units: how a registered DataSource turns into
DataFrames, namespace listings, and writes.

Reference: one `CatalogUnit` per source family
(`spark-common/.../catalog/CatalogUnit.scala`, `FileCatalogUnit.scala:
108-141`, `JDBCDataSourceCatalogUnit.scala:36-180`,
`AbstractDeltaCatalogUnit.scala:29-79`). Ours map straight onto
`spark.read` so Catalyst's DSv2 pushdown (predicates, column pruning,
partition pruning) applies untouched — the unit adds zero execution
code, exactly like the reference delegates to Spark's own tables.

A parquet file table gets its schema from one footer read on the driver
with Spark's own converter and the session conf, the file Spark's
inference would read, and hands it to the reader, so loading it runs no
Spark job (the reference snapshots a table's StructType instead,
`_table.json`). Spark infers the schema, in a job, whenever that could
differ: reader options besides `path`, `spark.sql.parquet.mergeSchema`
or `spark.sql.parquet.ignoreVariantAnnotation` on, subdirectories
(partition discovery), no data file, glob or non-local paths, or a
footer that fails to read or convert.
"""

from __future__ import annotations

import os
import re
from typing import Optional

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lightning_metastore_spark.model.serde import DataSource

_FILE_EXTENSIONS = {
    "PARQUET": ".parquet",
    "ORC": ".orc",
    "CSV": ".csv",
    "JSON": ".json",
    "AVRO": ".avro",
    "XML": ".xml",  # built-in source since Spark 4
}


class CatalogUnitError(Exception):
    pass


class CatalogUnit:
    def __init__(self, ds: DataSource):
        self.ds = ds

    def load_table(self, spark: SparkSession, residual: list[str]) -> DataFrame:
        raise NotImplementedError

    def list_tables(self, spark: SparkSession, residual: list[str]) -> list[str]:
        raise NotImplementedError

    def list_namespaces(self, spark: SparkSession, residual: list[str]) -> list[str]:
        return []

    def write_table(self, df: DataFrame, residual: list[str],
                    mode: str = "append") -> None:
        raise CatalogUnitError(
            f"{self.ds.source_type} datasource is not writable")


class FileCatalogUnit(CatalogUnit):
    """Structured file formats over a registered path.

    Reference semantics (`FileCatalogUnit.scala:75-141`): the datasource's
    `path` option holds the data; the table named like the datasource
    reads the path itself. Extension (documented divergence): a residual
    path selects `<path>/<residual>` or `<path>/<residual><ext>`, so one
    registration over a directory exposes each data file/subdir as a
    table — at 100 TB one registration covers a whole lake zone without
    per-table DDL.
    """

    @property
    def fmt(self) -> str:
        return self.ds.source_type.lower()

    @property
    def path(self) -> str:
        p = self.ds.options.get("path")
        if not p:
            raise CatalogUnitError(
                f"file datasource {self.ds.name} has no 'path' option")
        return p

    def _reader(self, spark: SparkSession):
        opts = {k: v for k, v in self.ds.options.items() if k != "path"}
        reader = spark.read.format(self.fmt)
        if self.fmt == "csv" and "header" not in opts:
            opts["header"] = "true"
        if self.fmt == "csv" and "inferSchema" not in opts:
            opts["inferSchema"] = "true"
        if self.fmt == "xml" and "rowTag" not in opts:
            opts["rowTag"] = "row"
        return reader.options(**opts)

    def _resolve_path(self, residual: list[str]) -> str:
        if not residual:
            return self.path
        base = os.path.join(self.path, *residual)
        ext = _FILE_EXTENSIONS[self.ds.source_type]
        for cand in (base, base + ext):
            if os.path.exists(cand):
                return cand
        raise CatalogUnitError(
            f"no {self.fmt} data at {base} for table "
            f"{'.'.join([self.ds.name] + residual)}")

    def _footer_schema(self, spark: SparkSession, path: str):
        """The JVM `StructType` Spark's parquet inference would give
        ``path``, converted from the footer inference reads, or None
        where the module docstring's fallbacks send the load to
        inference. Any error gives None too, so corrupt files and types
        the converter rejects (nanosecond timestamps without
        `nanosAsLong`) fail with inference's own error."""
        if (self.fmt != "parquet" or set(self.ds.options) != {"path"}
                or any(c in path for c in "{}[]*?\\")):
            return None
        try:
            target = _parquet_schema_file(path)
            if target is None:
                return None
            state = spark._jsparkSession.sessionState()
            conf = state.conf()
            converter = _jclass(spark, _PARQUET_PKG
                                + "ParquetToSparkSchemaConverter")(conf)
            # inference's converter leaves the variant flag at its default
            if (conf.isParquetSchemaMergingEnabled()
                    or converter.ignoreVariantAnnotation()):
                return None
            hpath = _jclass(spark, "org.apache.hadoop.fs.Path")(target)
            meta = _jclass(spark, _PARQUET_PKG + "ParquetFooterReader").readFooter(
                _jclass(spark, "org.apache.parquet.hadoop.util.HadoopInputFile")
                .fromPath(hpath, state.newHadoopConf()),
                _jclass(spark, "org.apache.parquet.format.converter."
                        "ParquetMetadataConverter").SKIP_ROW_GROUPS)
            footer = _jclass(spark, "org.apache.parquet.hadoop.Footer")(
                hpath, meta)
            return _jclass(spark, _PARQUET_PKG + "ParquetFileFormat") \
                .readSchemaFromFooter(footer, converter).asNullable()
        except Exception:  # noqa: BLE001 — inference reports the error
            return None

    def load_table(self, spark: SparkSession, residual: list[str]) -> DataFrame:
        path = self._resolve_path(residual)
        schema = self._footer_schema(spark, path)
        if schema is not None:
            return DataFrame(spark._jsparkSession.read().format("parquet")
                             .schema(schema).load(path), spark)
        if self.fmt == "avro":
            try:
                df = self._reader(spark).load(path)
                df.schema  # force analysis so a missing module surfaces here
                return df
            except Exception as e:  # noqa: BLE001 — fall back on no-jar only
                if not _is_missing_source_error(e):
                    raise
                extra = {k for k in self.ds.options if k != "path"}
                if extra:
                    raise CatalogUnitError(
                        f"avro datasource {self.ds.name}: no spark-avro "
                        f"module on the session and the no-jar fallback "
                        f"does not interpret reader options {sorted(extra)}"
                    ) from e
                from lightning_metastore_spark.sources.avro_table import read_avro
                return read_avro(spark, path)
        return self._reader(spark).load(path)

    def list_tables(self, spark: SparkSession, residual: list[str]) -> list[str]:
        base = os.path.join(self.path, *residual) if residual else self.path
        if not os.path.isdir(base):
            return []
        ext = _FILE_EXTENSIONS[self.ds.source_type]
        out = set()
        for entry in os.listdir(base):
            if entry.endswith(ext):
                # strip the extension for files AND directories — dotted
                # names are unresolvable (the resolver splits on '.') and
                # _resolve_path re-appends the extension when loading
                out.add(entry[: -len(ext)])
        return sorted(out)

    def list_namespaces(self, spark: SparkSession, residual: list[str]) -> list[str]:
        base = os.path.join(self.path, *residual) if residual else self.path
        if not os.path.isdir(base):
            return []
        ext = _FILE_EXTENSIONS[self.ds.source_type]
        return sorted(e for e in os.listdir(base)
                      if os.path.isdir(os.path.join(base, e))
                      and not e.endswith(ext))

    def write_table(self, df: DataFrame, residual: list[str],
                    mode: str = "append") -> None:
        if residual:
            path = os.path.join(self.path, *residual)
            path = path if os.path.splitext(path)[1] else path + _FILE_EXTENSIONS[self.ds.source_type]
        else:
            path = self.path
        opts = {k: v for k, v in self.ds.options.items() if k != "path"}
        if self.fmt == "csv" and "header" not in opts:
            opts["header"] = "true"
        if self.fmt == "avro":
            try:
                df.write.format(self.fmt).options(**opts).mode(mode).save(path)
                return
            except Exception as e:  # noqa: BLE001 — fall back on no-jar only
                if not _is_missing_source_error(e):
                    raise
                if opts:
                    raise CatalogUnitError(
                        f"avro datasource {self.ds.name}: no spark-avro "
                        f"module on the session and the no-jar fallback "
                        f"does not interpret writer options "
                        f"{sorted(opts)}") from e
                from lightning_metastore_spark.sources.avro_table import write_avro
                write_avro(df, path, mode=mode)
                return
        df.write.format(self.fmt).options(**opts).mode(mode).save(path)


class JDBCCatalogUnit(CatalogUnit):
    """JDBC sources via Spark's JDBC DSv2 (predicate + aggregate pushdown
    come from Spark, `JDBCDataSourceCatalogUnit.scala:36-180`).

    residual = [table] or [schema, table] (2-level namespace sources —
    Snowflake/Redshift quirks at reference :63-101 — collapse to
    schema-qualified dbtable).
    """

    def _jdbc_opts(self) -> dict[str, str]:
        opts = dict(self.ds.options)
        if "url" not in opts:
            raise CatalogUnitError(
                f"jdbc datasource {self.ds.name} has no 'url' option")
        return opts

    def load_table(self, spark: SparkSession, residual: list[str]) -> DataFrame:
        if not residual:
            raise CatalogUnitError("jdbc table reference requires a table name")
        opts = self._jdbc_opts()
        opts["dbtable"] = ".".join(residual)
        return spark.read.format("jdbc").options(**opts).load()

    def list_tables(self, spark: SparkSession, residual: list[str]) -> list[str]:
        """Table listing via the engine's metadata views. Tries ANSI
        information_schema first, then Derby's SYS catalog (the
        reference walks per-dialect metadata the same way —
        JDBCDataSourceCatalogUnit.scala:63-101)."""
        opts = self._jdbc_opts()
        schema = residual[0] if residual else opts.get("schema")
        # The schema predicate is applied as a Spark Column filter, NOT
        # interpolated into the wrapped SQL: Spark's JDBC dialect
        # compiles the literal with proper quoting when it pushes the
        # filter down, so hostile schema names can't break the query.
        queries = [
            "(SELECT table_name, table_schema "
            "FROM information_schema.tables) t",
            # Derby has no information_schema
            "(SELECT TABLENAME AS table_name, SCHEMANAME AS table_schema "
            "FROM SYS.SYSTABLES JOIN SYS.SYSSCHEMAS "
            "ON SYS.SYSTABLES.SCHEMAID = SYS.SYSSCHEMAS.SCHEMAID "
            "WHERE TABLETYPE = 'T') t",
        ]
        last = None
        for q in queries:
            o = dict(opts)
            o["dbtable"] = q
            try:
                df = spark.read.format("jdbc").options(**o).load()
                if schema:
                    df = df.where(F.lower(F.col("table_schema"))
                                  == str(schema).lower())
                return sorted(r[0] for r in df.select("table_name").collect())
            except Exception as e:
                last = e
        raise CatalogUnitError(f"cannot list JDBC tables: {last}")

    def write_table(self, df: DataFrame, residual: list[str],
                    mode: str = "append") -> None:
        """append: plain JDBC batch insert. overwrite: STAGED
        transactional swap — Spark's own jdbc overwrite drops and
        recreates the table (losing constraints) and commits per
        partition-batch, so a mid-write failure leaves a half-empty
        target. Instead the rows land in a staging table first
        (executor-parallel, off the target), then one driver-side JDBC
        transaction does DELETE target + INSERT ... SELECT from
        staging: readers see the old rows or the new rows, never a
        partial state. This is the MERGE INTO commit path for JDBC
        targets (the reference supports MERGE only through Iceberg —
        doc/etl_in_iceberg_lakehouse.md; a warehouse-grade RDBMS target
        deserves the same atomicity)."""
        opts = self._jdbc_opts()
        table = ".".join(residual)
        if mode != "overwrite":
            df.write.format("jdbc").options(**opts) \
                .option("dbtable", table).mode(mode).save()
            return
        import uuid

        stg = ".".join(residual[:-1]
                       + [f"{residual[-1]}_stg_{uuid.uuid4().hex[:8]}"])
        df.write.format("jdbc").options(**opts) \
            .option("dbtable", stg).mode("overwrite").save()
        cols = ", ".join(self._sql_ident(c) for c in df.columns)
        spark = df.sparkSession
        jvm = spark.sparkContext._jvm
        props = jvm.java.util.Properties()
        for k in ("user", "password"):
            if k in opts:
                props.setProperty(k, opts[k])
        conn = jvm.java.sql.DriverManager.getConnection(opts["url"], props)
        try:
            conn.setAutoCommit(False)
            st = conn.createStatement()
            try:
                st.executeUpdate(f"DELETE FROM {table}")
                st.executeUpdate(f"INSERT INTO {table} ({cols}) "
                                 f"SELECT {cols} FROM {stg}")
                conn.commit()
            except Exception:
                conn.rollback()
                raise
            finally:
                # staging cleanup is best-effort and outside the swap
                # transaction — a leftover staging table is litter, not
                # corruption
                try:
                    st.executeUpdate(f"DROP TABLE {stg}")
                    conn.commit()
                except Exception:
                    pass
                st.close()
        finally:
            conn.close()

    @staticmethod
    def _sql_ident(name: str) -> str:
        """Bare identifiers pass through (the engine's case folding then
        matches however the table was created); anything else is quoted
        with doubled-quote escaping."""
        if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            return name
        return '"' + name.replace('"', '""') + '"'


_PARQUET_PKG = "org.apache.spark.sql.execution.datasources.parquet."


def _jclass(spark: SparkSession, name: str) -> JavaClass:
    """A JVM class by its full name. `spark._jvm.<package path>` costs
    one py4j round trip per name segment (~2 ms for a Spark class)."""
    return JavaClass(name, spark._jvm._gateway_client)


def _spark_lists(name: str) -> bool:
    """Whether Spark's file listing keeps an entry of this name
    (`InMemoryFileIndex.shouldFilterOutPathName`): hidden `_`/`.` names
    and `._COPYING_` files are dropped, the parquet summary files
    kept."""
    hidden = ((name.startswith("_") and "=" not in name)
              or name.startswith(".") or name.endswith("._COPYING_"))
    return not hidden or name.startswith(("_common_metadata", "_metadata"))


def _parquet_schema_file(path: str) -> Optional[str]:
    """The file whose footer Spark's parquet inference reads without
    `mergeSchema` (`ParquetUtils.inferSchema`): `_common_metadata`, else
    `_metadata`, else the first data file in path order. None when
    ``path`` holds a subdirectory or no data file."""
    if os.path.isfile(path):
        return path if _spark_lists(os.path.basename(path)) else None
    names = []
    with os.scandir(path) as it:
        for e in it:
            if not _spark_lists(e.name):
                continue
            if e.is_dir():
                return None
            names.append(e.name)
    data = [n for n in names if n not in ("_common_metadata", "_metadata")]
    if not data:
        return None
    for summary in ("_common_metadata", "_metadata"):
        if summary in names:
            return os.path.join(path, summary)
    # Spark sorts Java strings, i.e. by UTF-16 code unit
    return os.path.join(path, min(data, key=lambda n: n.encode("utf-16-be")))


def _is_missing_source_error(e: Exception) -> bool:
    """True when Spark failed because the format's jar isn't on the
    session (vs a real user error that must propagate)."""
    msg = str(e).upper()
    return ("DATA_SOURCE_NOT_FOUND" in msg or "FAILED TO FIND" in msg
            or "CATALOG_NOT_FOUND" in msg
            or "CANNOT BE INSTANTIATED" in msg)


class DeltaCatalogUnit(CatalogUnit):
    """Delta: path-per-table directory layout (`AbstractDeltaCatalogUnit.
    scala:29-79` — list tables = list dirs). delta-spark is used when the
    session carries it; otherwise the offline `_delta_log` replay reader
    (`sources/delta_reader.py`, the public Delta PROTOCOL) serves reads,
    time travel, `.history`, and unpartitioned writes — the jar is
    unobtainable in this container (PARITY.md env table)."""

    def load_table(self, spark: SparkSession, residual: list[str],
                   version_as_of=None, timestamp_as_of=None,
                   prune=None) -> DataFrame:
        from lightning_metastore_spark.sources import delta_reader as dr
        base = self.ds.options["path"]
        path = os.path.join(base, *residual)
        if (residual
                and residual[-1].lower() in ("history", "changes",
                                             "files")
                and not os.path.isdir(os.path.join(path, "_delta_log"))):
            parent = os.path.join(base, *residual[:-1])
            if os.path.isdir(os.path.join(parent, "_delta_log")):
                if residual[-1].lower() == "history":
                    return dr.delta_history(spark, parent)
                if residual[-1].lower() == "files":
                    return dr.delta_files(
                        spark, parent,
                        None if version_as_of is None
                        else int(version_as_of))
                # `.changes` = Change Data Feed; VERSION AS OF n sets
                # the STARTING version (delta-spark's startingVersion),
                # TIMESTAMP AS OF the starting timestamp
                start = 0
                if version_as_of is not None:
                    start = int(version_as_of)
                elif timestamp_as_of is not None:
                    # interpreted in the Spark session timezone, same
                    # as the time-travel reader path (r14 ADVICE)
                    bound_ms = dr.ts_literal_ms(spark, timestamp_as_of)
                    vs = [v for v, p in dr._commit_files(parent)
                          if dr._commit_timestamp(p) >= bound_ms]
                    if not vs:
                        raise CatalogUnitError(
                            f"no Delta commits at or after "
                            f"{timestamp_as_of}")
                    start = min(vs)
                return dr.table_changes(spark, parent,
                                        starting_version=start)
        try:
            reader = spark.read.format("delta")
            if version_as_of is not None:
                reader = reader.option("versionAsOf", int(version_as_of))
            if timestamp_as_of is not None:
                reader = reader.option("timestampAsOf", timestamp_as_of)
            df = reader.load(path)
            df.schema  # force analysis so a missing jar surfaces here
            return df
        except Exception as e:  # noqa: BLE001 — offline only on no-jar
            if not _is_missing_source_error(e):
                raise
            return dr.read_delta(
                spark, path,
                None if version_as_of is None else int(version_as_of),
                timestamp_as_of, prune=prune)

    def list_tables(self, spark: SparkSession, residual: list[str]) -> list[str]:
        base = os.path.join(self.ds.options["path"], *residual)
        if not os.path.isdir(base):
            return []
        return sorted(e for e in os.listdir(base)
                      if os.path.isdir(os.path.join(base, e, "_delta_log")))

    def write_table(self, df: DataFrame, residual: list[str],
                    mode: str = "append") -> None:
        path = os.path.join(self.ds.options["path"], *residual)
        try:
            df.write.format("delta").mode(mode).save(path)
        except Exception as e:  # noqa: BLE001 — offline only on no-jar
            if not _is_missing_source_error(e):
                raise
            from lightning_metastore_spark.sources.delta_reader import write_delta
            write_delta(df, path, mode=mode)


class IcebergCatalogUnit(CatalogUnit):
    """Iceberg via a mounted Spark catalog when the runtime jar exists
    (the reference delegates to Iceberg's SparkCatalog per version,
    `AbstractIcebergCatalogUnit.scala:28-66`); without it, a hadoop-type
    warehouse (`warehouse`/`path` option — the layout the reference's
    REGISTER ICEBERG test uses) is served by the offline spec reader
    (`sources/iceberg_reader.py`): snapshot scan, VERSION AS OF /
    TIMESTAMP AS OF, v2 deletes, and the `.history` metadata table.
    Writes require the real runtime and raise a clear error offline."""

    def _catalog(self) -> str:
        return self.ds.options.get("catalog", self.ds.name)

    def _warehouse(self) -> Optional[str]:
        return self.ds.options.get("warehouse") or self.ds.options.get("path")

    def _mounted(self, spark: SparkSession) -> bool:
        """True when a real Spark catalog (the Iceberg runtime) serves
        this unit's catalog name. listCatalogs() only reports
        ALREADY-INSTANTIATED catalogs, so the conf key
        `spark.sql.catalog.<name>` is checked too — a configured
        catalog instantiates lazily on first spark.table() access and
        must not be shadowed by the offline reader (and if its jar is
        genuinely missing, the instantiation error is the right thing
        to surface)."""
        name = self._catalog()
        try:
            if spark.conf.get(f"spark.sql.catalog.{name}", None):
                return True
        except Exception:  # noqa: BLE001 — conf probe only
            pass
        try:
            return any(c.name == name
                       for c in spark.catalog.listCatalogs())
        except Exception:  # noqa: BLE001 — treat probe failure as absent
            return False

    def load_table(self, spark: SparkSession, residual: list[str],
                   version_as_of=None, timestamp_as_of=None,
                   prune=None) -> DataFrame:
        from lightning_metastore_spark.sources import iceberg_reader as ir
        if self._mounted(spark):
            name = ".".join([self._catalog()] + residual)
            if version_as_of is not None:
                return spark.sql(
                    f"SELECT * FROM {name} VERSION AS OF {int(version_as_of)}")
            if timestamp_as_of is not None:
                # escape quotes before embedding as a SQL literal — the
                # value arrives from user SQL via the resolver's
                # ''-unescape and could carry a quote
                ts = str(timestamp_as_of).replace("'", "''")
                return spark.sql(f"SELECT * FROM {name} "
                                 f"TIMESTAMP AS OF '{ts}'")
            return spark.table(name)
        wh = self._warehouse()
        if wh is None:
            raise CatalogUnitError(
                f"iceberg datasource {self.ds.name}: no Spark catalog "
                f"'{self._catalog()}' mounted and no warehouse/path "
                "option for the offline reader")
        path = os.path.join(wh, *residual)
        _meta_tables = {"history": ir.iceberg_history,
                        "snapshots": ir.iceberg_snapshots,
                        "files": ir.iceberg_files,
                        "partitions": ir.iceberg_partitions}
        if (residual and residual[-1].lower() in _meta_tables
                and not os.path.isdir(os.path.join(path, "metadata"))):
            parent = os.path.join(wh, *residual[:-1])
            if os.path.isdir(os.path.join(parent, "metadata")):
                return _meta_tables[residual[-1].lower()](spark, parent)
        if (residual and residual[-1].lower() == "changes"
                and not os.path.isdir(os.path.join(path, "metadata"))):
            parent = os.path.join(wh, *residual[:-1])
            if os.path.isdir(os.path.join(parent, "metadata")):
                # `.changes` = the changelog scan (r17), the Delta CDF
                # suffix's Iceberg twin; VERSION AS OF n sets the
                # EXCLUSIVE starting snapshot id (the runtime
                # changelog procedure's start-snapshot-id), default =
                # the full history
                return ir.iceberg_changelog(
                    spark, parent,
                    from_snapshot_id=(None if version_as_of is None
                                      else int(version_as_of)))
        if not os.path.isdir(os.path.join(path, "metadata")):
            raise CatalogUnitError(f"no Iceberg table at {path}")
        ts_ms = None
        if timestamp_as_of is not None:
            from lightning_metastore_spark.sources.delta_reader import (
                ts_literal_ms,
            )
            ts_ms = ts_literal_ms(spark, str(timestamp_as_of))
        return ir.read_iceberg(
            spark, path,
            snapshot_id=None if version_as_of is None else int(version_as_of),
            as_of_timestamp=ts_ms, prune=prune)

    def write_table(self, df: DataFrame, residual: list[str],
                    mode: str = "append") -> None:
        if self._mounted(spark := df.sparkSession):
            name = ".".join([self._catalog()] + residual)
            if mode == "overwrite":
                df.writeTo(name).overwritePartitions()
            else:
                df.writeTo(name).append()
            return
        wh = self._warehouse()
        if wh is None:
            raise CatalogUnitError(
                f"iceberg datasource {self.ds.name}: writes need either "
                "a mounted Iceberg catalog or a warehouse/path option "
                "for the offline writer")
        from lightning_metastore_spark.sources.iceberg_writer import (
            write_iceberg,
        )
        write_iceberg(df, os.path.join(wh, *residual), mode=mode)

    def list_tables(self, spark: SparkSession, residual: list[str]) -> list[str]:
        if self._mounted(spark):
            rows = spark.sql(
                f"SHOW TABLES IN "
                f"{'.'.join([self._catalog()] + residual)}").collect()
            return sorted(r.tableName for r in rows)
        wh = self._warehouse()
        if wh is None:
            return []
        from lightning_metastore_spark.sources.iceberg_reader import (
            list_iceberg_tables,
        )
        return list_iceberg_tables(os.path.join(wh, *residual))

    def list_namespaces(self, spark: SparkSession, residual: list[str]) -> list[str]:
        wh = self._warehouse()
        if wh is None:
            return []
        base = os.path.join(wh, *residual)
        if not os.path.isdir(base):
            return []
        return sorted(
            e for e in os.listdir(base)
            if os.path.isdir(os.path.join(base, e))
            and not os.path.isdir(os.path.join(base, e, "metadata")))


def load_catalog_unit(ds: DataSource) -> CatalogUnit:
    """Factory mirroring `CatalogUnitFactory.scala:26-38`. Unstructured
    types are handled by sources/unstructured.py's table builder."""
    if ds.source_type in _FILE_EXTENSIONS:
        return FileCatalogUnit(ds)
    if ds.source_type == "JDBC":
        return JDBCCatalogUnit(ds)
    if ds.source_type == "DELTA":
        return DeltaCatalogUnit(ds)
    if ds.source_type == "ICEBERG":
        return IcebergCatalogUnit(ds)
    if ds.is_unstructured:
        from lightning_metastore_spark.sources.unstructured import (
            UnstructuredCatalogUnit,
        )
        return UnstructuredCatalogUnit(ds)
    raise CatalogUnitError(f"unsupported source type: {ds.source_type}")
