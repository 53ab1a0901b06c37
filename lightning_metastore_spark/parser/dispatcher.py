"""Lightning DDL dialect: detection, parsing, and command execution.

The reference detects its dialect by keyword sniffing over
comment-stripped uppercased text (`LightningExtendedParser.
isLightningCommand`, scala:134-186) before handing anything else to the
delegate Spark parser. We mirror that: `is_lightning_command` +
regex-based command parsers; everything else goes through the resolver
to `spark.sql()`.

Each command is a small dataclass with `run(ctx) -> DataFrame` —
the Python analogue of the reference's `LeafRunnableCommand` specs
(`LightningCommandBase.scala:34-108`): driver-side metastore I/O, with
Spark jobs only where the command semantically needs them (REGISTER
CATALOG schema snaphots, ACTIVATE analysis, DQ runs). A command's own
rows come back as a local relation (`session.local_frame`), which
collects without a job, like the reference's command results.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame

from lightning_metastore_spark.model.metastore import (
    DATASOURCE_ROOT,
    METASTORE_ROOT,
    MetastoreError,
)
from lightning_metastore_spark.model.serde import (
    ALL_SOURCE_TYPES,
    DataSource,
    RegisteredTable,
    UnifiedSemanticLayer,
)
from lightning_metastore_spark.parser.create_table import (
    CreateTableSpec,
    parse_create_table,
    split_ddl_bundle,
)
from lightning_metastore_spark.session import local_frame, sql_with_views

_COMMENT = re.compile(r"(--[^\n]*)|(/\*.*?\*/)", re.S)

_SOURCE_TYPES_ALT = "|".join(sorted(ALL_SOURCE_TYPES))

_LIGHTNING_HEADS = (
    re.compile(r"^REGISTER\s+(OR\s+REPLACE\s+)?(" + _SOURCE_TYPES_ALT + r")\s+DATASOURCE\b", re.I),
    re.compile(r"^REGISTER\s+(OR\s+REPLACE\s+)?CATALOG\b", re.I),
    re.compile(r"^REGISTER\s+DQ\b", re.I),
    re.compile(r"^(COMPILE|ACTIVATE|LOAD|UPDATE|REMOVE)\s+USL\b", re.I),
    re.compile(r"^(LIST|RUN|REMOVE|SHOW)\s+DQ\b", re.I),
    re.compile(r"^RUN\s+PIPELINE\b", re.I),
    re.compile(r"^LIST\s+PIPELINE\s+OPS\b", re.I),
    re.compile(r"^SHOW\s+NAMESPACES\s+OR\s+TABLES\b", re.I),
    re.compile(r"^(CREATE|DROP)\s+NAMESPACE\s+(IF\s+(NOT\s+)?EXISTS\s+)?LIGHTNING\.", re.I),
    re.compile(r"^SHOW\s+(NAMESPACES|TABLES)\s+IN\s+LIGHTNING\b", re.I),
    re.compile(r"^(DESC|DESCRIBE)\s+(TABLE\s+|DATASOURCE\s+)?LIGHTNING\.", re.I),
    re.compile(r"^DROP\s+DATASOURCE\b", re.I),
    re.compile(r"^INSERT\s+(INTO|OVERWRITE)\s+LIGHTNING\.", re.I),
    re.compile(r"^CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?LIGHTNING\.[\w.\-]+\s+AS\b", re.I),
    re.compile(r"^UPDATE\s+LIGHTNING\.[\w.\-]+\s+SET\b", re.I),
    # standalone annotated / namespaced CREATE TABLE spec (echoes JSON)
    re.compile(r"^@\w+\s*\(", re.I),
    re.compile(r"^CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?[\w.`\-]+\s*\(.*\)\s*"
               r"NAMESPACE\s+LIGHTNING\.", re.I | re.S),
    re.compile(r"^MERGE\s+INTO\s+LIGHTNING\.", re.I),
    re.compile(r"^OPTIMIZE\s+LIGHTNING\.", re.I),
    re.compile(r"^REORG\s+TABLE\s+LIGHTNING\.", re.I),
    re.compile(r"^REWRITE\s+MANIFESTS\s+LIGHTNING\.", re.I),
    re.compile(r"^VACUUM\s+LIGHTNING\.", re.I),
    re.compile(r"^EXPIRE\s+SNAPSHOTS\s+LIGHTNING\.", re.I),
    re.compile(r"^REMOVE\s+ORPHAN\s+FILES\s+LIGHTNING\.", re.I),
    re.compile(r"^RESTORE\s+(TABLE\s+)?LIGHTNING\.", re.I),
    re.compile(r"^ALTER\s+TABLE\s+LIGHTNING\.", re.I),
    re.compile(r"^DELETE\s+FROM\s+LIGHTNING\.", re.I),
)


def strip_comments(sql: str) -> str:
    return _COMMENT.sub(" ", sql).strip()


def is_lightning_command(sql: str) -> bool:
    text = strip_comments(sql)
    return any(p.match(text) for p in _LIGHTNING_HEADS)


class CommandParseError(Exception):
    pass


def _split_path(dotted: str) -> list[str]:
    parts = [p for p in dotted.strip().strip(".").split(".") if p]
    if parts and parts[0].lower() == "lightning":
        parts = parts[1:]
    return parts


def _require_root(path: list[str], root: str, what: str) -> list[str]:
    if not path or path[0].lower() != root:
        raise CommandParseError(
            f"{what} namespace must be under lightning.{root}, "
            f"got lightning.{'.'.join(path)}")
    return path[1:]


_OPT_ITEM = re.compile(
    r"""([\w.\-]+)\s*(?:=\s*|\s+)("(?:[^"]*)"|'(?:[^']*)'|[^,\s][^,]*)""", re.S)


def parse_options(body: str) -> dict[str, str]:
    """OPTIONS(k "v", k2 'v2', k3=v3) — reference grammar uses
    `key "value"` pairs; we also accept `=`."""
    opts = {}
    for m in _OPT_ITEM.finditer(body):
        k, v = m.group(1), m.group(2).strip()
        if v and v[0] in "\"'" and v[-1] == v[0]:
            v = v[1:-1]
        opts[k] = v
    return opts


# ---------------------------------------------------------------------------
# command dataclasses
# ---------------------------------------------------------------------------

@dataclass
class Command:
    def run(self, ctx) -> DataFrame:  # pragma: no cover - abstract
        raise NotImplementedError

    @staticmethod
    def _df(ctx, rows, schema) -> DataFrame:
        return local_frame(ctx.spark, rows, schema)


@dataclass
class RegisterDataSource(Command):
    """`RegisterDataSourceSpec.scala:40-114` — validate per-type options,
    persist the datasource document."""
    name: str
    source_type: str
    namespace: list[str]
    options: dict[str, str]
    replace: bool = False
    tag_schema: Optional[str] = None

    _REQUIRED = {"JDBC": ["url"], "DELTA": ["path"], "ICEBERG": []}

    def run(self, ctx) -> DataFrame:
        st = self.source_type.upper()
        required = self._REQUIRED.get(st, ["path"])
        for k in required:
            if k not in self.options:
                raise CommandParseError(
                    f"{st} datasource requires OPTIONS({k} ...)")
        ns = _require_root(self.namespace, DATASOURCE_ROOT, "datasource")
        ds = DataSource(self.name, ns, st, self.options, self.tag_schema)
        ctx.metastore.save_datasource(ds, replace=self.replace)
        fqn = ".".join(["lightning", DATASOURCE_ROOT] + ns + [self.name])
        return self._df(ctx, [(fqn,)], "registered string")


@dataclass
class DropDataSource(Command):
    path: list[str]

    def run(self, ctx) -> DataFrame:
        rest = _require_root(self.path, DATASOURCE_ROOT, "datasource")
        ctx.metastore.drop_datasource(rest[:-1], rest[-1])
        return self._df(ctx, [(".".join(self.path),)], "dropped string")


@dataclass
class RegisterCatalog(Command):
    """`RegisterCatalogSpec.scala:31-91`: recursively walk a datasource's
    namespaces, snapshotting each table's schema into the metastore.
    SQL LIKE name filter -> regex (reference :41-49)."""
    name: str
    source: list[str]
    namespace: list[str]
    replace: bool = False
    name_like: Optional[str] = None
    options: dict[str, str] = field(default_factory=dict)

    def run(self, ctx) -> DataFrame:
        from lightning_metastore_spark.catalog.units import load_catalog_unit

        target_ns = _require_root(self.namespace, METASTORE_ROOT, "catalog")
        src = _require_root(list(self.source), DATASOURCE_ROOT, "catalog source")
        hit = ctx.metastore.find_parent_datasource(src)
        if hit is None:
            raise CommandParseError(
                f"no datasource at lightning.{'.'.join(self.source)}")
        ds, residual = hit
        unit = load_catalog_unit(ds)
        pattern = None
        if self.name_like:
            pattern = re.compile(
                "^" + re.escape(self.name_like).replace("%", ".*").replace("_", ".")
                + "$", re.I)
        ctx.metastore.create_namespace(METASTORE_ROOT, target_ns + [self.name],
                                       if_not_exists=True)
        registered = []

        # ANALYZE at snapshot time (docs claim the reference derives
        # optimizer statistics from registration — lightning-commands.md
        # :28-33 — but never implements it; ours does): the row count is
        # stored on the RegisteredTable and drives a broadcast decision
        # at load (resolver._load_registered). Opt out with
        # OPTIONS(analyze 'false') when a source table is too expensive
        # to count at registration.
        analyze = str(self.options.get("analyze", "true")).lower() != "false"

        def walk(res_path: list[str], out_ns: list[str]) -> None:
            for tbl in unit.list_tables(ctx.spark, res_path):
                if pattern and not pattern.match(tbl):
                    continue
                df = unit.load_table(ctx.spark, res_path + [tbl])
                n_rows = None
                if analyze:
                    try:
                        n_rows = df.count()
                    except Exception:
                        n_rows = None  # stats are advisory, never fatal
                fqn = (["lightning", DATASOURCE_ROOT] + ds.namespace
                       + [ds.name] + res_path + [tbl])
                t = RegisteredTable(tbl, out_ns, fqn, df.schema.json(),
                                    row_count=n_rows)
                ctx.metastore.save_table(t, replace=self.replace)
                registered.append(".".join(out_ns + [tbl]))
            for sub in unit.list_namespaces(ctx.spark, res_path):
                ctx.metastore.create_namespace(
                    METASTORE_ROOT, out_ns + [sub], if_not_exists=True)
                walk(res_path + [sub], out_ns + [sub])

        walk(residual, target_ns + [self.name])
        return self._df(ctx, [(r,) for r in registered], "registered string")


@dataclass
class CreateNamespace(Command):
    path: list[str]
    if_not_exists: bool = False

    def run(self, ctx) -> DataFrame:
        root, rest = self.path[0].lower(), self.path[1:]
        ctx.metastore.create_namespace(root, rest, if_not_exists=self.if_not_exists)
        return self._df(ctx, [(".".join(self.path),)], "created string")


@dataclass
class DropNamespace(Command):
    path: list[str]
    if_exists: bool = False
    cascade: bool = False

    def run(self, ctx) -> DataFrame:
        root, rest = self.path[0].lower(), self.path[1:]
        try:
            ctx.metastore.drop_namespace(root, rest, cascade=self.cascade)
        except MetastoreError:
            if not self.if_exists:
                raise
        return self._df(ctx, [(".".join(self.path),)], "dropped string")


@dataclass
class ShowNamespaces(Command):
    path: list[str]

    def run(self, ctx) -> DataFrame:
        if not self.path:
            rows = [(DATASOURCE_ROOT,), (METASTORE_ROOT,)]
            return self._df(ctx, rows, "namespace string")
        root, rest = self.path[0].lower(), self.path[1:]
        names = set(ctx.metastore.list_namespaces(root, rest))
        if root == DATASOURCE_ROOT:
            hit = ctx.metastore.find_parent_datasource(rest)
            if hit is not None:
                from lightning_metastore_spark.catalog.units import load_catalog_unit
                ds, residual = hit
                names.update(load_catalog_unit(ds).list_namespaces(ctx.spark, residual))
        return self._df(ctx, [(n,) for n in sorted(names)], "namespace string")


@dataclass
class ShowTables(Command):
    path: list[str]

    def run(self, ctx) -> DataFrame:
        root, rest = self.path[0].lower(), self.path[1:]
        names: list[str] = []
        if root == DATASOURCE_ROOT:
            hit = ctx.metastore.find_parent_datasource(rest)
            if hit is not None:
                from lightning_metastore_spark.catalog.units import load_catalog_unit
                ds, residual = hit
                names = load_catalog_unit(ds).list_tables(ctx.spark, residual)
        elif root == METASTORE_ROOT:
            names = ctx.metastore.list_tables(rest)
            usl = (ctx.metastore.load_usl(rest[:-1], rest[-1]) if rest else None)
            if usl is not None:
                names = sorted(t["name"] for t in usl.tables)
        return self._df(ctx, [(n,) for n in names], "tableName string")


@dataclass
class ShowNamespacesOrTables(Command):
    """Merged listing classifying each child (reference namespace.scala:
    29-50): usl | namespace | table | datasource."""
    path: list[str]

    def run(self, ctx) -> DataFrame:
        rows: list[tuple[str, str]] = []
        if not self.path:
            rows = [(DATASOURCE_ROOT, "namespace"), (METASTORE_ROOT, "namespace")]
            return self._df(ctx, rows, "name string, type string")
        root, rest = self.path[0].lower(), self.path[1:]
        for n in ctx.metastore.list_namespaces(root, rest):
            rows.append((n, "namespace"))
        if root == DATASOURCE_ROOT:
            for n in ctx.metastore.list_datasources(rest):
                rows.append((n, "datasource"))
            hit = ctx.metastore.find_parent_datasource(rest)
            if hit is not None:
                from lightning_metastore_spark.catalog.units import load_catalog_unit
                ds, residual = hit
                unit = load_catalog_unit(ds)
                rows.extend((n, "namespace")
                            for n in unit.list_namespaces(ctx.spark, residual))
                rows.extend((n, "table")
                            for n in unit.list_tables(ctx.spark, residual))
        else:
            rows.extend((n, "table") for n in ctx.metastore.list_tables(rest))
            rows.extend((n, "usl") for n in ctx.metastore.list_usls(rest))
        rows = sorted(set(rows))
        return self._df(ctx, rows, "name string, type string")


@dataclass
class DescribeTable(Command):
    path: list[str]
    datasource: bool = False

    def run(self, ctx) -> DataFrame:
        if self.datasource or self._is_datasource(ctx):
            return self._describe_datasource(ctx)
        df = ctx.resolver.load_table(self.path)
        rows = [(f.name, f.dataType.simpleString(), f.nullable)
                for f in df.schema.fields]
        return self._df(ctx, rows, "col_name string, data_type string, nullable boolean")

    def _is_datasource(self, ctx) -> bool:
        if not self.path or self.path[0].lower() != DATASOURCE_ROOT:
            return False
        rest = self.path[1:]
        return bool(rest) and \
            ctx.metastore.load_datasource(rest[:-1], rest[-1]) is not None

    def _describe_datasource(self, ctx) -> DataFrame:
        rest = _require_root(self.path, DATASOURCE_ROOT, "DESCRIBE DATASOURCE")
        ds = ctx.metastore.load_datasource(rest[:-1], rest[-1])
        if ds is None:
            raise CommandParseError(
                f"no datasource at lightning.{'.'.join(self.path)}")
        from lightning_metastore_spark.model.serde import _CREDENTIAL_KEYS
        rows = [("name", ds.name), ("type", ds.source_type),
                ("namespace", ".".join(["lightning", DATASOURCE_ROOT] + ds.namespace))]
        for k, v in sorted(ds.options.items()):
            masked = "***" if any(c in k.lower() for c in _CREDENTIAL_KEYS) else v
            rows.append((f"option:{k}", masked))
        if ds.tag_schema:
            rows.append(("tagSchema", ds.tag_schema))
        return self._df(ctx, rows, "property string, value string")


@dataclass
class InsertInto(Command):
    """INSERT INTO/OVERWRITE a lightning datasource table — delegated to
    the owning catalog unit's write path (the reference delegates to the
    unit catalogs, AbstractLightningCatalog.createTable:109-121 /
    doc data_virtulization.md:95-107). The SELECT body goes through the
    resolver, so cross-source INSERT ... SELECT federation works."""
    path: list[str]
    query: str
    overwrite: bool = False

    def run(self, ctx) -> DataFrame:
        from lightning_metastore_spark.catalog.units import load_catalog_unit

        rest = _require_root(self.path, DATASOURCE_ROOT, "INSERT target")
        hit = ctx.metastore.find_parent_datasource(rest)
        if hit is None:
            raise CommandParseError(
                f"no datasource at lightning.{'.'.join(self.path)}")
        ds, residual = hit
        df = ctx.resolver.resolve_sql(self.query)
        if self.overwrite:
            # INSERT OVERWRITE t SELECT ... FROM t would otherwise read
            # and truncate the same files; materialize the SELECT first
            # (same lineage-break MergeInto uses). Note localCheckpoint
            # blocks are non-reliable — a unit-level staging write (tmp
            # dir + rename) is the durable upgrade path for long jobs.
            df = df.localCheckpoint(eager=True)
        load_catalog_unit(ds).write_table(
            df, residual, mode="overwrite" if self.overwrite else "append")
        return self._df(ctx, [(".".join(self.path),)], "inserted string")


def _iceberg_table_path(ctx, path: list[str], what: str) -> str:
    """Resolve a lightning.datasource.iceberg.* path to the offline
    warehouse table dir (Iceberg maintenance commands; a MOUNTED
    catalog's tables are maintained by the runtime's own procedures)."""
    from lightning_metastore_spark.catalog.units import (
        IcebergCatalogUnit,
        load_catalog_unit,
    )

    rest = _require_root(path, DATASOURCE_ROOT, what)
    hit = ctx.metastore.find_parent_datasource(rest)
    if hit is None:
        raise CommandParseError(
            f"no datasource at lightning.{'.'.join(path)}")
    ds, residual = hit
    unit = load_catalog_unit(ds)
    if not isinstance(unit, IcebergCatalogUnit):
        raise CommandParseError(
            f"{what} supports Iceberg tables only; "
            f"lightning.{'.'.join(path)} is a {ds.source_type} source")
    if unit._mounted(ctx.spark) or unit._warehouse() is None:
        raise CommandParseError(
            f"{what} maintains offline warehouse tables; a mounted "
            f"Iceberg catalog's tables use the runtime's procedures")
    import os as _os
    return _os.path.join(unit._warehouse(), *residual)


def _lakehouse_table_path(ctx, path: list[str], what: str
                          ) -> tuple[str, str]:
    """("delta"|"iceberg", table dir) for maintenance commands that
    work on BOTH offline formats (r17: OPTIMIZE, REORG ... PURGE)."""
    from lightning_metastore_spark.catalog.units import (
        DeltaCatalogUnit,
        load_catalog_unit,
    )

    rest = _require_root(path, DATASOURCE_ROOT, what)
    hit = ctx.metastore.find_parent_datasource(rest)
    if hit is None:
        raise CommandParseError(
            f"no datasource at lightning.{'.'.join(path)}")
    ds, residual = hit
    unit = load_catalog_unit(ds)
    if isinstance(unit, DeltaCatalogUnit):
        import os as _os
        return "delta", _os.path.join(ds.options["path"], *residual)
    from lightning_metastore_spark.catalog.units import (
        IcebergCatalogUnit,
    )
    if not isinstance(unit, IcebergCatalogUnit):
        raise CommandParseError(
            f"{what} supports Delta and offline Iceberg tables only; "
            f"lightning.{'.'.join(path)} is a {ds.source_type} source")
    return "iceberg", _iceberg_table_path(ctx, path, what)


def _delta_table_path(ctx, path: list[str], what: str) -> str:
    """Resolve a lightning.datasource.delta.* path to the table dir;
    maintenance commands are Delta-only (Iceberg compaction is the
    runtime's rewrite_data_files territory)."""
    from lightning_metastore_spark.catalog.units import DeltaCatalogUnit
    from lightning_metastore_spark.catalog.units import load_catalog_unit

    rest = _require_root(path, DATASOURCE_ROOT, what)
    hit = ctx.metastore.find_parent_datasource(rest)
    if hit is None:
        raise CommandParseError(
            f"no datasource at lightning.{'.'.join(path)}")
    ds, residual = hit
    unit = load_catalog_unit(ds)
    if not isinstance(unit, DeltaCatalogUnit):
        raise CommandParseError(
            f"{what} supports Delta tables only; "
            f"lightning.{'.'.join(path)} is a {ds.source_type} source")
    import os as _os
    return _os.path.join(ds.options["path"], *residual)


@dataclass
class DeleteFrom(Command):
    """`DELETE FROM lightning.datasource.<...>.<table> [WHERE cond]` —
    row deletion with SQL semantics (only TRUE-predicate rows go; NULL
    keeps the row). On Delta and Iceberg targets the delete is
    FILE-GRANULAR: one filtered scan finds the files containing
    matching rows, only THOSE files' survivors are rewritten, and the
    commit carries untouched files over verbatim — delta-spark's
    pre-deletion-vector strategy, so a 10-row delete on a 100 TB table
    rewrites one file, not the table. File/JDBC units (no transaction
    log) keep the whole-table rewrite. On versioned units the delete
    is one NEW version, so the pre-delete state stays time-travelable.
    The reference throws on DELETE — this is beyond-parity surface
    like MERGE INTO."""
    path: list[str]
    where: Optional[str] = None

    def run(self, ctx) -> DataFrame:
        from lightning_metastore_spark.catalog.units import (
            DeltaCatalogUnit,
            load_catalog_unit,
        )

        rest = _require_root(self.path, DATASOURCE_ROOT, "DELETE target")
        hit = ctx.metastore.find_parent_datasource(rest)
        if hit is None:
            raise CommandParseError(
                f"no datasource at lightning.{'.'.join(self.path)}")
        ds, residual = hit
        unit = load_catalog_unit(ds)
        if isinstance(unit, DeltaCatalogUnit):
            from lightning_metastore_spark.sources.delta_reader import (
                delete_where,
            )
            import os as _os
            tpath = _os.path.join(ds.options["path"], *residual)
            n = delete_where(ctx.spark, tpath, self.where)
            return self._df(ctx, [(n,)], "n_deleted long")
        from lightning_metastore_spark.catalog.units import (
            IcebergCatalogUnit,
        )
        if isinstance(unit, IcebergCatalogUnit) \
                and not unit._mounted(ctx.spark) \
                and unit._warehouse() is not None:
            from lightning_metastore_spark.sources.iceberg_writer import (
                delete_where_iceberg,
            )
            import os as _os
            tpath = _os.path.join(unit._warehouse(), *residual)
            n = delete_where_iceberg(ctx.spark, tpath, self.where)
            return self._df(ctx, [(n,)], "n_deleted long")
        df = unit.load_table(ctx.spark, residual)
        before = df.count()
        # SQL DELETE removes only rows where the predicate is TRUE —
        # a NULL predicate keeps the row, so survivors are NOT(TRUE),
        # not NOT(pred) (which would drop NULL-predicate rows)
        survivors = (df.filter(f"NOT coalesce(({self.where}), false)")
                     if self.where else df.filter("false"))
        # materialize BEFORE the overwrite: the survivors' lineage
        # reads the same files the overwrite replaces
        survivors = survivors.localCheckpoint(eager=True)
        n_kept = survivors.count()
        unit.write_table(survivors, residual, mode="overwrite")
        return self._df(ctx, [(before - n_kept,)], "n_deleted long")


@dataclass
class OptimizeTable(Command):
    """`OPTIMIZE lightning.datasource.<delta|iceberg>.<ds>.<table>
    [TARGET SIZE n] [ZORDER BY (col, ...)]` — bin-packing compaction
    of small files into ~n-byte ones (or, with ZORDER BY on Delta, a
    full Morton-order re-clustering that shrinks every clustered
    column's per-file min/max so stats-based skipping bites on all of
    them) as a dataChange=false / "replace" commit (delta-spark's
    OPTIMIZE surface; Iceberg's `rewrite_data_files`, r17; the
    reference has no maintenance commands, its docs defer to the
    runtimes). The 100 TB rationale lives in
    `sources/delta_reader.optimize_delta` / `zorder_delta` /
    `sources/iceberg_writer.optimize_iceberg`."""
    path: list[str]
    target_bytes: Optional[int] = None
    zorder_by: Optional[list[str]] = None

    def run(self, ctx) -> DataFrame:
        from lightning_metastore_spark.sources.delta_reader import (
            optimize_delta,
            zorder_delta,
        )

        kwargs = {}
        if self.target_bytes is not None:
            kwargs["target_file_bytes"] = int(self.target_bytes)
        kind, tpath = _lakehouse_table_path(ctx, self.path, "OPTIMIZE")
        if kind == "iceberg":
            # r17: rewrite_data_files (bin-pack / z-order sort) for
            # offline Iceberg tables
            from lightning_metastore_spark.sources.iceberg_writer import (
                optimize_iceberg,
                zorder_iceberg,
            )
            if self.zorder_by:
                stats = zorder_iceberg(ctx.spark, tpath,
                                       self.zorder_by, **kwargs)
                return self._df(
                    ctx, [(stats["files_removed"],
                           stats["files_added"],
                           stats["bytes_rewritten"])],
                    "files_removed long, files_added long, "
                    "bytes_rewritten long")
            stats = optimize_iceberg(ctx.spark, tpath, **kwargs)
            return self._df(
                ctx, [(stats["files_removed"], stats["files_added"],
                       stats["bytes_compacted"])],
                "files_removed long, files_added long, "
                "bytes_compacted long")
        if self.zorder_by:
            stats = zorder_delta(ctx.spark, tpath, self.zorder_by,
                                 **kwargs)
            return self._df(
                ctx, [(stats["files_removed"], stats["files_added"],
                       stats["bytes_rewritten"])],
                "files_removed long, files_added long, "
                "bytes_rewritten long")
        stats = optimize_delta(ctx.spark, tpath, **kwargs)
        return self._df(
            ctx, [(stats["files_removed"], stats["files_added"],
                   stats["bytes_compacted"])],
            "files_removed long, files_added long, bytes_compacted long")


@dataclass
class ReorgPurge(Command):
    """`REORG TABLE lightning.datasource.<delta|iceberg>.<ds>.<table>
    APPLY (PURGE)` — materialize every DV-carrying (Delta) or
    position-deleted (Iceberg, r17) file's survivors and drop the
    deletion vectors / delete manifests as one commit (delta-spark's
    REORG surface; Iceberg's `rewrite_position_delete_files`; the
    merge-on-read lifecycle's compaction half — see
    `delta_reader.purge_delta` / `iceberg_writer.purge_iceberg`)."""
    path: list[str]

    def run(self, ctx) -> DataFrame:
        kind, tpath = _lakehouse_table_path(ctx, self.path, "REORG")
        if kind == "iceberg":
            # r17: rewrite_position_delete_files for offline Iceberg
            # tables, under the same SQL surface
            from lightning_metastore_spark.sources.iceberg_writer import (
                purge_iceberg,
            )
            out = purge_iceberg(ctx.spark, tpath)
            return self._df(
                ctx, [(out["files_purged"], out["rows_dropped"])],
                "files_purged long, rows_dropped long")
        from lightning_metastore_spark.sources.delta_reader import (
            purge_delta,
        )

        out = purge_delta(ctx.spark, tpath)
        return self._df(
            ctx, [(out["files_purged"], out["rows_dropped"])],
            "files_purged long, rows_dropped long")


@dataclass
class RewriteManifests(Command):
    """`REWRITE MANIFESTS lightning.datasource.iceberg.<ds>.<table>
    [TARGET ENTRIES n]` — Iceberg's `rewrite_manifests` procedure
    (r17): compact the current snapshot's manifests into ~n-entry
    ones, metadata-only (see `iceberg_writer.
    rewrite_manifests_iceberg` for the 100 TB planning rationale).
    Iceberg-only — Delta's log compaction is the checkpoint,
    written automatically every 10 commits."""
    path: list[str]
    target_entries: int = 5000

    def run(self, ctx) -> DataFrame:
        from lightning_metastore_spark.sources.iceberg_writer import (
            rewrite_manifests_iceberg,
        )

        tpath = _iceberg_table_path(ctx, self.path,
                                    "REWRITE MANIFESTS")
        out = rewrite_manifests_iceberg(
            ctx.spark, tpath,
            target_entries_per_manifest=int(self.target_entries))
        return self._df(
            ctx, [(out["manifests_before"], out["manifests_after"])],
            "manifests_before long, manifests_after long")


@dataclass
class VacuumTable(Command):
    """`VACUUM lightning.datasource.delta.<ds>.<table> [RETAIN n HOURS]
    [FORCE] [DRY RUN]` — delete data/DV files unreferenced by the
    current snapshot and older than the retention window (delta-spark's
    VACUUM surface; default 168 h so recent-version readers drain
    first; retention below the 168 h floor requires FORCE, mirroring
    delta-spark's retentionDurationCheck)."""
    path: list[str]
    retention_hours: float = 168.0
    dry_run: bool = False
    force: bool = False

    def run(self, ctx) -> DataFrame:
        from lightning_metastore_spark.sources.delta_reader import (
            vacuum_delta,
        )

        tpath = _delta_table_path(ctx, self.path, "VACUUM")
        doomed = vacuum_delta(ctx.spark, tpath,
                              retention_hours=self.retention_hours,
                              dry_run=self.dry_run, force=self.force)
        return self._df(ctx, [(p,) for p in doomed], "path string")


@dataclass
class ExpireSnapshots(Command):
    """`EXPIRE SNAPSHOTS lightning.datasource.iceberg.<ds>.<table>
    [OLDER THAN n HOURS] [RETAIN LAST n] [DRY RUN]` — Iceberg's
    expire_snapshots maintenance procedure (the Iceberg twin of
    Delta's VACUUM; scale rationale and safety rails in
    `sources/iceberg_writer.expire_snapshots`)."""
    path: list[str]
    older_than_hours: Optional[float] = None
    retain_last: int = 1
    dry_run: bool = False

    def run(self, ctx) -> DataFrame:
        import time as _time

        from lightning_metastore_spark.sources.iceberg_writer import (
            expire_snapshots,
        )

        tpath = _iceberg_table_path(ctx, self.path, "EXPIRE SNAPSHOTS")
        older_ms = None
        if self.older_than_hours is not None:
            older_ms = int((_time.time()
                            - self.older_than_hours * 3600.0) * 1000)
        out = expire_snapshots(ctx.spark, tpath, older_than_ms=older_ms,
                               retain_last=self.retain_last,
                               dry_run=self.dry_run)
        return self._df(
            ctx, [(len(out["expired_snapshot_ids"]),
                   len(out["deleted_files"]))],
            "snapshots_expired long, files_deleted long")


@dataclass
class RemoveOrphanFiles(Command):
    """`REMOVE ORPHAN FILES lightning.datasource.iceberg.<ds>.<table>
    [RETAIN n HOURS] [FORCE] [DRY RUN]` — Iceberg's
    remove_orphan_files procedure (72 h floor unless FORCE, matching
    the runtime's in-flight-writer protection)."""
    path: list[str]
    retention_hours: float = 72.0
    dry_run: bool = False
    force: bool = False

    def run(self, ctx) -> DataFrame:
        from lightning_metastore_spark.sources.iceberg_writer import (
            remove_orphan_files,
        )

        tpath = _iceberg_table_path(ctx, self.path,
                                    "REMOVE ORPHAN FILES")
        doomed = remove_orphan_files(ctx.spark, tpath,
                                     retention_hours=self.retention_hours,
                                     dry_run=self.dry_run,
                                     force=self.force)
        return self._df(ctx, [(p,) for p in doomed], "path string")


@dataclass
class AlterTable(Command):
    """`ALTER TABLE lightning.<...>.<table> ADD COLUMNS (c type, ...)
    | SET TBLPROPERTIES ('k'='v', ...) | ADD CONSTRAINT n CHECK (e)
    | DROP CONSTRAINT n` — one metadata commit, zero data movement
    (the delta-spark DDL quartet; Iceberg supports ADD COLUMNS via
    the spec's fresh-field-id schema evolution)."""
    path: list[str]
    add_columns: Optional[list] = None
    set_properties: Optional[dict] = None
    add_constraint: Optional[tuple] = None
    drop_constraint: Optional[str] = None

    def run(self, ctx) -> DataFrame:
        from lightning_metastore_spark.catalog.units import (
            DeltaCatalogUnit,
            IcebergCatalogUnit,
            load_catalog_unit,
        )

        rest = _require_root(self.path, DATASOURCE_ROOT, "ALTER target")
        hit = ctx.metastore.find_parent_datasource(rest)
        if hit is None:
            raise CommandParseError(
                f"no datasource at lightning.{'.'.join(self.path)}")
        ds, residual = hit
        unit = load_catalog_unit(ds)
        import os as _os
        if isinstance(unit, DeltaCatalogUnit):
            from lightning_metastore_spark.sources.delta_reader import (
                alter_delta,
            )
            v = alter_delta(
                ctx.spark,
                _os.path.join(ds.options["path"], *residual),
                add_columns=self.add_columns,
                set_properties=self.set_properties,
                add_constraint=self.add_constraint,
                drop_constraint=self.drop_constraint)
            return self._df(ctx, [(v,)], "version long")
        if isinstance(unit, IcebergCatalogUnit) \
                and not unit._mounted(ctx.spark) \
                and unit._warehouse() is not None:
            if not self.add_columns or any(
                    (self.set_properties, self.add_constraint,
                     self.drop_constraint)):
                raise CommandParseError(
                    "offline Iceberg ALTER supports ADD COLUMNS only "
                    "(properties/constraints are Delta surface)")
            from lightning_metastore_spark.sources.iceberg_writer import (
                alter_iceberg_add_columns,
            )
            v = alter_iceberg_add_columns(
                ctx.spark, _os.path.join(unit._warehouse(), *residual),
                self.add_columns)
            return self._df(ctx, [(v,)], "version long")
        raise CommandParseError(
            f"ALTER TABLE supports Delta and offline Iceberg tables; "
            f"lightning.{'.'.join(self.path)} is a "
            f"{ds.source_type} source")


@dataclass
class RestoreTable(Command):
    """`RESTORE [TABLE] lightning.<...>.<table> [TO] VERSION AS OF n |
    TIMESTAMP AS OF 'ts'` — time-travel WRITE-BACK in one metadata
    commit (zero data movement), dispatched by unit type: Delta
    re-adds/removes files to equal the target version
    (`delta_reader.restore_delta`, delta-spark's RESTORE); Iceberg
    points current-snapshot-id back (`iceberg_writer.rollback_iceberg`,
    the runtime's rollback_to_snapshot). The undone versions stay
    time-travelable."""
    path: list[str]
    version: Optional[int] = None
    timestamp: Optional[str] = None

    def run(self, ctx) -> DataFrame:
        from lightning_metastore_spark.catalog.units import (
            DeltaCatalogUnit,
            IcebergCatalogUnit,
            load_catalog_unit,
        )

        rest = _require_root(self.path, DATASOURCE_ROOT,
                             "RESTORE target")
        hit = ctx.metastore.find_parent_datasource(rest)
        if hit is None:
            raise CommandParseError(
                f"no datasource at lightning.{'.'.join(self.path)}")
        ds, residual = hit
        unit = load_catalog_unit(ds)
        import os as _os
        if isinstance(unit, DeltaCatalogUnit):
            from lightning_metastore_spark.sources.delta_reader import (
                restore_delta,
            )
            out = restore_delta(
                ctx.spark, _os.path.join(ds.options["path"], *residual),
                version_as_of=self.version,
                timestamp_as_of=self.timestamp)
            return self._df(
                ctx, [(out["version"], out["files_added"],
                       out["files_removed"])],
                "version long, files_added long, files_removed long")
        if isinstance(unit, IcebergCatalogUnit) \
                and not unit._mounted(ctx.spark) \
                and unit._warehouse() is not None:
            from lightning_metastore_spark.sources.delta_reader import (
                ts_literal_ms,
            )
            from lightning_metastore_spark.sources.iceberg_writer import (
                rollback_iceberg,
            )
            ts_ms = (None if self.timestamp is None
                     else ts_literal_ms(ctx.spark, self.timestamp))
            v = rollback_iceberg(
                ctx.spark, _os.path.join(unit._warehouse(), *residual),
                snapshot_id=self.version, as_of_timestamp=ts_ms)
            return self._df(ctx, [(v, 0, 0)],
                            "version long, files_added long, "
                            "files_removed long")
        raise CommandParseError(
            f"RESTORE supports Delta and offline Iceberg tables; "
            f"lightning.{'.'.join(self.path)} is a "
            f"{ds.source_type} source")


@dataclass
class CreateTableAsSelect(Command):
    """CTAS against a lightning datasource path (file units: writes a new
    table under the registered path)."""
    path: list[str]
    query: str
    if_not_exists: bool = False

    def run(self, ctx) -> DataFrame:
        from lightning_metastore_spark.catalog.units import (
            CatalogUnitError,
            load_catalog_unit,
        )

        rest = _require_root(self.path, DATASOURCE_ROOT, "CTAS target")
        hit = ctx.metastore.find_parent_datasource(rest)
        if hit is None:
            raise CommandParseError(
                f"no datasource at lightning.{'.'.join(self.path)}")
        ds, residual = hit
        unit = load_catalog_unit(ds)
        try:
            unit.load_table(ctx.spark, residual)
            exists = True
        except CatalogUnitError:
            exists = False
        except Exception as e:
            # only a not-found style analysis error means "free to create";
            # infrastructure failures must NOT be misread as absence
            msg = str(e)
            if "PATH_NOT_FOUND" in msg or "UNABLE_TO_INFER_SCHEMA" in msg \
                    or "cannot be found" in msg:
                exists = False
            else:
                raise
        if exists:
            if self.if_not_exists:
                return self._df(ctx, [(".".join(self.path),)], "created string")
            raise CommandParseError(
                f"table already exists: lightning.{'.'.join(self.path)}")
        df = ctx.resolver.resolve_sql(self.query)
        unit.write_table(df, residual, mode="errorifexists")
        return self._df(ctx, [(".".join(self.path),)], "created string")


@dataclass
class MergeInto(Command):
    """`MERGE INTO lightning.<file-table> [AS t] USING <src> [AS s]
    ON <cond> WHEN MATCHED THEN UPDATE SET ...|DELETE
    WHEN NOT MATCHED THEN INSERT *|(cols) VALUES (exprs)`.

    The reference supports MERGE only through Iceberg's extension
    (doc etl_in_iceberg_lakehouse.md). DELTA and offline ICEBERG
    targets take the FILE-GRANULAR copy-on-write path
    (`delta_reader.merge_into_delta` / `iceberg_writer.
    merge_into_iceberg` — r15 verdict #2): one discovery join finds
    the touched files + runs the cardinality check, only those files
    rewrite, inserts append, untouched adds/manifests carry over
    verbatim, and CDF tables emit exact update_pre/postimage +
    delete + insert cdc — upserting 10 rows into a 100 TB table
    rewrites one file, and every pre-merge version stays
    time-travelable. Plain file tables (no transaction log to edit)
    keep the full-outer-join rewrite: matched rows apply
    UPDATE/DELETE, target-only rows pass through, source-only rows
    INSERT, and the localCheckpointed result overwrites the target.
    With the runtime mounted the engine-native MERGE applies instead.
    """
    target: list[str]
    target_alias: str
    source_sql: str
    source_alias: str
    on_cond: str
    update_set: Optional[dict[str, str]] = None   # legacy single clause
    matched_delete: bool = False
    insert_cols: Optional[list[str]] = None
    insert_values: Optional[list[str]] = None
    insert_all: bool = False
    # ordered clause lists (r16): [(cond|None, "update"|"delete",
    # sets)] / [(cond|None, cols|None, vals)] — the SQL parser fills
    # these; the legacy kwargs above normalize into them
    matched_clauses: Optional[list] = None
    insert_clauses: Optional[list] = None
    source_clauses: Optional[list] = None

    def run(self, ctx) -> DataFrame:
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window as W

        from lightning_metastore_spark.catalog.units import load_catalog_unit
        from lightning_metastore_spark.sources import (
            merge_clauses as mcl,
        )

        mc, ic, sc = mcl.normalize_clauses(
            self.update_set, self.matched_delete, self.insert_cols,
            self.insert_values, self.insert_all,
            self.matched_clauses, self.insert_clauses,
            self.source_clauses)
        try:
            mcl.validate_clauses(mc, ic, sc)
        except mcl.MergeClauseError as e:
            raise CommandParseError(str(e)) from e
        rest = _require_root(self.target, DATASOURCE_ROOT, "MERGE target")
        hit = ctx.metastore.find_parent_datasource(rest)
        if hit is None:
            raise CommandParseError(
                f"no datasource at lightning.{'.'.join(self.target)}")
        ds, residual = hit
        unit = load_catalog_unit(ds)
        src = self.source_sql.strip()
        if src.startswith("("):
            src = src[1:-1]
        if re.match(r"^lightning\.", src, re.I):
            s_base = ctx.resolver.load_table(_split_path(src))
        else:
            s_base = ctx.resolver.resolve_sql(src)

        # lakehouse targets: file-granular copy-on-write merge
        from lightning_metastore_spark.catalog.units import (
            DeltaCatalogUnit,
            IcebergCatalogUnit,
        )
        import os as _os
        merge_fn = tpath = None
        if isinstance(unit, DeltaCatalogUnit):
            from lightning_metastore_spark.sources.delta_reader import (
                merge_into_delta,
            )
            merge_fn = merge_into_delta
            tpath = _os.path.join(ds.options["path"], *residual)
        elif isinstance(unit, IcebergCatalogUnit) \
                and not unit._mounted(ctx.spark) \
                and unit._warehouse() is not None:
            from lightning_metastore_spark.sources.iceberg_writer import (
                merge_into_iceberg,
            )
            merge_fn = merge_into_iceberg
            tpath = _os.path.join(unit._warehouse(), *residual)
        if merge_fn is not None:
            try:
                out = merge_fn(
                    ctx.spark, tpath, s_base, self.on_cond,
                    self.target_alias, self.source_alias,
                    matched_clauses=mc, insert_clauses=ic,
                    source_clauses=sc)
            except Exception as e:
                # surface lakehouse errors under the command contract
                raise CommandParseError(str(e)) from e
            return self._df(ctx,
                            [(".".join(self.target),
                              out["total_rows"])],
                            "merged string, n_rows long")

        t_df = (unit.load_table(ctx.spark, residual)
                .withColumn("__te", F.lit(1))
                .withColumn("__tid", F.monotonically_increasing_id())
                .alias(self.target_alias))
        s_df = s_base.withColumn("__se", F.lit(1)).alias(self.source_alias)
        joined = t_df.join(s_df, F.expr(self.on_cond), "full_outer")

        ta, sa = self.target_alias, self.source_alias
        matched = (F.col(f"{ta}.__te").isNotNull()
                   & F.col(f"{sa}.__se").isNotNull())
        t_only = F.col(f"{ta}.__te").isNotNull() & F.col(f"{sa}.__se").isNull()
        s_only = F.col(f"{ta}.__te").isNull() & F.col(f"{sa}.__se").isNotNull()

        target_cols = [c for c in t_df.columns if c not in ("__te", "__tid")]
        # ordered-clause semantics shared with the lakehouse paths
        # (merge_clauses): the first clause whose condition holds
        # claims the row
        cidx = mcl.matched_clause_idx(mc, matched)
        del_idx = sorted(mcl.delete_idxs(mc))
        is_deleted = (cidx.isin(*del_idx) if del_idx else F.lit(False))
        stidx = mcl.matched_clause_idx(sc, t_only)
        sdel_idx = sorted(mcl.delete_idxs(sc))
        s_deleted = (stidx.isin(*sdel_idx) if sdel_idx
                     else F.lit(False))
        iidx = mcl.insert_clause_idx(ic)
        keep = (t_only & ~s_deleted) | (matched & ~is_deleted)
        if ic:
            keep = keep | (s_only & (iidx >= 0))
        # column matching is case-insensitive, like Spark's own analyzer
        # (a Derby/Snowflake target reports ID/NAME while the source and
        # SET clauses usually say id/name)
        s_cols_q = {c.lower(): f"{sa}.`{c}`" for c in s_base.columns}
        schema_by = {f.name: f for f in t_df.schema.fields}
        out_cols = []
        for c in target_cols:
            f = schema_by[c]
            m_val = mcl.matched_field_value(f, mc, ta, cidx)
            s_val = mcl.matched_field_value(f, sc, ta, stidx)
            i_val = mcl.insert_field_value(f, ic, s_cols_q, iidx)
            out_cols.append(
                F.when(matched, m_val).when(t_only, s_val)
                .otherwise(i_val).alias(c))
        # standard MERGE cardinality rule (Delta/ANSI behavior): a target
        # row matched by more than one source row is an error, not a
        # silent duplication — even pass-through/DELETE paths, where the
        # full-outer join would silently multiply or over-delete rows.
        # With NO matched clause the duplicate is not ambiguous
        # (delta-spark parity — an insert-only MERGE against a
        # duplicate-key source answers): the pass-through target row is
        # kept ONCE (row_number over the same window key) instead.
        # The per-target match count is a window in the SAME pass as the
        # result, and the violation is checked on the materialized
        # output BEFORE the destructive overwrite.
        # Window partition key: target rows key by __tid; source-only
        # (INSERT) rows have NULL __tid and would otherwise all funnel
        # through ONE window partition — severe skew for insert-heavy
        # merges at scale. Each gets a unique negative surrogate instead
        # (singleton partitions; real __tid is non-negative, no
        # collision), keeping the cardinality check single-pass AND
        # balanced.
        n_matches = F.count(F.when(matched, F.lit(1))).over(
            W.partitionBy(F.col("__wkey")))
        enriched = (joined
                    .withColumn(
                        "__wkey",
                        F.coalesce(F.col(f"{ta}.__tid"),
                                   -F.monotonically_increasing_id() - 1))
                    .withColumn("__nm", n_matches))
        if mc:
            enriched = (enriched
                        .withColumn("__dup", matched
                                    & F.col(f"{ta}.__tid").isNotNull()
                                    & (F.col("__nm") > 1))
                        .withColumn("__keep", keep))
        else:
            # unclaimed pass-through: any join copy carries the same
            # (target-only) values — keep the first
            rn = F.row_number().over(
                W.partitionBy(F.col("__wkey")).orderBy(F.lit(0)))
            enriched = (enriched
                        .withColumn("__dup", F.lit(False))
                        .withColumn(
                            "__keep",
                            keep & (F.col(f"{ta}.__tid").isNull()
                                    | (rn == 1))))
        result = (enriched.filter(F.col("__keep") | F.col("__dup"))
                  .select(*out_cols, "__dup", "__keep"))
        # break lineage from the files we are about to overwrite
        materialized = result.localCheckpoint(eager=True)
        if materialized.filter("__dup").limit(1).count() > 0:
            raise CommandParseError(
                "MERGE failed: at least one target row matches multiple "
                "source rows (ON condition is not unique on the source "
                "side) — the standard MERGE cardinality violation")
        final = materialized.filter("__keep").drop("__dup", "__keep")
        unit.write_table(final, residual, mode="overwrite")
        n = final.count()
        return self._df(ctx, [(".".join(self.target), n)],
                        "merged string, n_rows long")


@dataclass
class CreateTableSpecCommand(Command):
    """Standalone `[@Hints] CREATE TABLE ... [NAMESPACE lightning...]`:
    parse the spec (constraints + annotations) and echo it as JSON —
    the reference's standalone behavior (SURVEY §2.1: 'standalone run
    just echoes JSON', LightningExtensionAstBuilder.scala:59-90)."""
    ddl: str

    def run(self, ctx) -> DataFrame:
        spec = parse_create_table(self.ddl)
        return self._df(ctx, [(json.dumps(spec.to_dict(), indent=2),)],
                        "json string")


@dataclass
class UpdateFileTags(Command):
    """`UPDATE lightning.datasource.<...> SET col = expr [, ...]
    [WHERE <predicate>]` — dispatched by unit type: Delta/Iceberg
    targets get ROW-LEVEL file-granular UPDATE (copy-on-write; every
    RHS evaluates against the OLD row; CDF tables emit
    update_preimage/postimage cdc); unstructured datasources rewrite
    the `.tag` JSON sidecars of matching files.

    The reference left this UNFINISHED (logical plan exists but the
    parser hook is commented out — `UpdateLightningTableTag.scala:28-66`,
    `LightningExtendedParser.scala:230-232`); here it works: the WHERE
    predicate is evaluated against the metadata table (so filters can
    use extracted columns), and matching files' sidecars are rewritten
    executor-side via foreachPartition — no driver collect of content.
    """
    path: list[str]
    assignments: dict[str, str]   # tag column -> SQL literal expression
    where: Optional[str] = None

    def run(self, ctx) -> DataFrame:
        import json as _json
        import os as _os

        from pyspark.sql import functions as F

        from lightning_metastore_spark.catalog.units import load_catalog_unit
        from lightning_metastore_spark.sources.unstructured import (
            UnstructuredCatalogUnit,
        )

        rest = _require_root(self.path, DATASOURCE_ROOT, "UPDATE target")
        hit = ctx.metastore.find_parent_datasource(rest)
        if hit is None:
            raise CommandParseError(
                f"no datasource at lightning.{'.'.join(self.path)}")
        ds, residual = hit
        unit = load_catalog_unit(ds)
        # Delta/Iceberg targets get ROW-LEVEL UPDATE (file-granular
        # copy-on-write, CDF update_pre/postimage on CDF tables) —
        # the DML triad's third member next to DELETE FROM and MERGE
        from lightning_metastore_spark.catalog.units import (
            DeltaCatalogUnit,
            IcebergCatalogUnit,
        )
        if isinstance(unit, DeltaCatalogUnit):
            from lightning_metastore_spark.sources.delta_reader import (
                update_where,
            )
            tpath = _os.path.join(ds.options["path"], *residual)
            n = update_where(ctx.spark, tpath, self.assignments,
                             self.where)
            return self._df(ctx, [(n,)], "n_updated long")
        if isinstance(unit, IcebergCatalogUnit) \
                and not unit._mounted(ctx.spark) \
                and unit._warehouse() is not None:
            from lightning_metastore_spark.sources.iceberg_writer import (
                update_where_iceberg,
            )
            tpath = _os.path.join(unit._warehouse(), *residual)
            n = update_where_iceberg(ctx.spark, tpath,
                                     self.assignments, self.where)
            return self._df(ctx, [(n,)], "n_updated long")
        if not isinstance(unit, UnstructuredCatalogUnit):
            raise CommandParseError(
                "UPDATE ... SET supports Delta/Iceberg tables "
                "(row-level) and unstructured datasources (tag "
                "sidecars) only")
        if not ds.tag_schema:
            raise CommandParseError(
                f"datasource {ds.name} declares no TAG schema")
        meta = unit.load_table(ctx.spark, residual)
        if self.where:
            meta = meta.filter(self.where)
        tag_cols = [c.strip().split()[0] for c in ds.tag_schema.split(",")]
        for k in self.assignments:
            if k not in tag_cols:
                raise CommandParseError(
                    f"unknown tag column {k!r}; declared: {tag_cols}")
        updates = meta.select(
            "path",
            F.struct(*[F.expr(self.assignments[c]).alias(c) if c in self.assignments
                       else F.col(c).alias(c) for c in tag_cols]).alias("t"))
        # materialize BEFORE rewriting sidecars: a lazy re-evaluation after
        # foreachPartition would re-read the just-updated .tag files and
        # report a wrong count (and re-run extraction twice)
        updates = updates.persist()
        n = updates.count()

        def write_sidecars(rows) -> None:
            # executor-side: resolve the filesystem from each row's path
            # URL (model/fs.py shim — file:/s3:/hdfs: all valid); cache
            # one client per scheme so object-store clients are built
            # once per partition, not per row
            from lightning_metastore_spark.model.fs import (
                get_filesystem,
                split_url,
            )

            by_scheme: dict = {}
            for r in rows:
                scheme, p = split_url(r.path)
                if scheme not in by_scheme:
                    by_scheme[scheme] = get_filesystem(r.path)[0]
                fs = by_scheme[scheme]
                d = r.t.asDict(recursive=True)
                clean = {k: (str(v) if hasattr(v, "isoformat") else v)
                         for k, v in d.items() if v is not None}
                fs.write_text(p + ".tag",
                              _json.dumps(clean, sort_keys=True, default=str))

        updates.foreachPartition(write_sidecars)
        updates.unpersist()
        return self._df(ctx, [(".".join(self.path), n)],
                        "updated string, n_files long")


# -- USL --------------------------------------------------------------------

@dataclass
class CompileUSL(Command):
    """`CompileUSLSpec.scala:31-112`: split the DDL bundle, parse each
    table, check duplicate names + FK target existence, qualify FK refs,
    optionally persist (DEPLOY)."""
    name: str
    namespace: list[str]
    ddl: str
    deploy: bool = False
    if_not_exists: bool = False

    def run(self, ctx) -> DataFrame:
        ns = _require_root(self.namespace, METASTORE_ROOT, "USL")
        specs: list[CreateTableSpec] = []
        seen = set()
        for stmt in split_ddl_bundle(self.ddl):
            spec = parse_create_table(stmt)
            if spec.name.lower() in seen:
                raise CommandParseError(f"duplicate table in USL: {spec.name}")
            seen.add(spec.name.lower())
            specs.append(spec)
        fqn_prefix = ".".join(["lightning", METASTORE_ROOT] + ns + [self.name])
        for spec in specs:
            for fk in spec.all_foreign_keys():
                target = fk["table"].split(".")[-1].lower()
                if target not in seen:
                    raise CommandParseError(
                        f"FK in {spec.name} references unknown table {fk['table']!r}")
                fk["table"] = f"{fqn_prefix}.{target}"
        usl = UnifiedSemanticLayer(self.name, ns, [s.to_dict() for s in specs])
        if self.deploy:
            if self.if_not_exists and ctx.metastore.load_usl(ns, self.name):
                return self._df(ctx, [(usl.to_json(),)], "json string")
            ctx.metastore.save_usl(usl, replace=not self.if_not_exists)
        return self._df(ctx, [(usl.to_json(),)], "json string")


# Upcast-compatibility lattice (`LightningSource.dataTypeQueryable`,
# scala:68-90): defined type accepts queried type iff lossless widening.
_WIDENS = {
    "tinyint": {"tinyint"},
    "smallint": {"tinyint", "smallint"},
    "int": {"tinyint", "smallint", "int"},
    "bigint": {"tinyint", "smallint", "int", "bigint"},
    "float": {"float"},
    "double": {"float", "double"},
    "string": {"string"},
    "boolean": {"boolean"},
    "date": {"date"},
    "timestamp": {"timestamp", "timestamp_ntz"},
    "timestamp_ntz": {"timestamp_ntz"},
    "binary": {"binary"},
}


def type_accepts(defined: str, queried: str) -> bool:
    d, q = defined.lower(), queried.lower()
    d = {"byte": "tinyint", "short": "smallint", "integer": "int",
         "long": "bigint", "real": "float"}.get(d, d)
    if d == q:
        return True
    dv = re.match(r"(var)?char\((\d+)\)", d)
    qv = re.match(r"(var)?char\((\d+)\)", q)
    if d == "string" and (q == "string" or qv):
        return True
    if dv:
        return bool(qv) and int(qv.group(2)) <= int(dv.group(2))
    dd = re.match(r"decimal\((\d+),(\d+)\)", d)
    qd = re.match(r"decimal\((\d+),(\d+)\)", q)
    if dd:
        if not qd:
            return False
        dp, dscale = int(dd.group(1)), int(dd.group(2))
        qp, qscale = int(qd.group(1)), int(qd.group(2))
        # lossless widening: both the integer-digit capacity (p - s) and
        # the scale must fit — precision/scale compared independently
        # would accept e.g. decimal(10,0) into decimal(10,5), overflowing
        return (qp - qscale) <= (dp - dscale) and qscale <= dscale
    return q in _WIDENS.get(d, set())


@dataclass
class ActivateUSLTable(Command):
    """`ActivateUSLTableSpec.scala:33-88`: analyze the mapping query,
    check arity + upcast compatibility against the declared schema,
    persist the activation query."""
    path: list[str]  # under lightning.metastore: ns... usl table
    query: str

    def run(self, ctx) -> DataFrame:
        rest = _require_root(self.path, METASTORE_ROOT, "USL table")
        if len(rest) < 2:
            raise CommandParseError(
                "ACTIVATE USL TABLE expects lightning.metastore.<ns...>.<usl>.<table>")
        ns, usl_name, table = rest[:-2], rest[-2], rest[-1]
        usl = ctx.metastore.load_usl(ns, usl_name)
        if usl is None:
            raise CommandParseError(f"no USL {usl_name} under {'.'.join(ns)}")
        spec = next((CreateTableSpec.from_dict(s) for s in usl.tables
                     if s["name"].lower() == table.lower()), None)
        if spec is None:
            raise CommandParseError(f"USL {usl_name} has no table {table}")
        analyzed = ctx.resolver.resolve_sql(self.query)
        declared = spec.columns
        if len(analyzed.schema) != len(declared):
            raise CommandParseError(
                f"column count mismatch: table defines {len(declared)}, "
                f"query produces {len(analyzed.schema)}")
        for f, c in zip(analyzed.schema.fields, declared):
            if not type_accepts(c.data_type, f.dataType.simpleString()):
                raise CommandParseError(
                    f"type mismatch for {c.name}: declared {c.data_type}, "
                    f"query yields {f.dataType.simpleString()}")
        ctx.metastore.save_activation(ns, usl_name, table, self.query)
        return self._df(ctx, [(".".join(self.path), self.query)],
                        "activated string, query string")


@dataclass
class LoadUSL(Command):
    name: str
    namespace: list[str]

    def run(self, ctx) -> DataFrame:
        ns = _require_root(self.namespace, METASTORE_ROOT, "USL")
        usl = ctx.metastore.load_usl(ns, self.name)
        if usl is None:
            raise CommandParseError(f"no USL {self.name} under {'.'.join(ns)}")
        return self._df(ctx, [(usl.to_json(),)], "json string")


@dataclass
class UpdateUSL(Command):
    name: str
    namespace: list[str]
    payload: str

    def run(self, ctx) -> DataFrame:
        ns = _require_root(self.namespace, METASTORE_ROOT, "USL")
        d = json.loads(self.payload)
        usl = UnifiedSemanticLayer(self.name, ns, d.get("tables", d)
                                   if isinstance(d, dict) else d)
        ctx.metastore.save_usl(usl, replace=True)
        return self._df(ctx, [(usl.to_json(),)], "json string")


@dataclass
class RemoveUSL(Command):
    name: str
    namespace: list[str]

    def run(self, ctx) -> DataFrame:
        ns = _require_root(self.namespace, METASTORE_ROOT, "USL")
        ctx.metastore.remove_usl(ns, self.name)
        return self._df(ctx, [(self.name,)], "removed string")


# -- DQ ---------------------------------------------------------------------

def _usl_for_table(ctx, path: list[str]):
    rest = _require_root(list(path), METASTORE_ROOT, "DQ table")
    if len(rest) < 2:
        raise CommandParseError(
            "DQ table must be lightning.metastore.<ns...>.<usl>.<table>")
    ns, usl_name, table = rest[:-2], rest[-2], rest[-1]
    usl = ctx.metastore.load_usl(ns, usl_name)
    if usl is None:
        raise CommandParseError(f"no USL {usl_name} under {'.'.join(ns)}")
    spec = next((s for s in usl.tables if s["name"].lower() == table.lower()), None)
    if spec is None:
        raise CommandParseError(f"USL {usl_name} has no table {table}")
    return ns, usl, spec, table


@dataclass
class RegisterDQ(Command):
    """`DataQualitySpec.scala:211-245`: validate the expression by
    planning it against the table, then append to the table spec."""
    name: str
    table_path: list[str]
    expression: str

    def run(self, ctx) -> DataFrame:
        ns, usl, spec, table = _usl_for_table(ctx, self.table_path)
        dqs = spec.setdefault("dataQualities", [])
        if any(d["name"] == self.name for d in dqs):
            raise CommandParseError(f"DQ {self.name} already registered on {table}")
        df = ctx.resolver.load_table(self.table_path)
        # validate by forcing analysis of the filter plan (the reference
        # parse->analyze->optimize->plans it, DataQualitySpec.scala:37-46)
        _ = df.filter(self.expression).schema
        dqs.append({"name": self.name, "expression": self.expression})
        ctx.metastore.save_usl(usl, replace=True)
        return self._df(ctx, [(self.name, ".".join(self.table_path))],
                        "dq_name string, table string")


@dataclass
class ListDQ(Command):
    usl_path: list[str]

    def run(self, ctx) -> DataFrame:
        rest = _require_root(list(self.usl_path), METASTORE_ROOT, "USL")
        ns, usl_name = rest[:-1], rest[-1]
        usl = ctx.metastore.load_usl(ns, usl_name)
        if usl is None:
            raise CommandParseError(f"no USL {usl_name} under {'.'.join(ns)}")
        rows = []
        for spec_d in usl.tables:
            spec = CreateTableSpec.from_dict(spec_d)
            if spec.all_pk_columns():
                rows.append(("_pk", spec.name, "Primary Key Constraint",
                             ",".join(spec.all_pk_columns())))
            for uk in spec.all_unique_keys():
                rows.append(("_uk", spec.name, "Unique Constraint", ",".join(uk)))
            for fk in spec.all_foreign_keys():
                rows.append(("_fk", spec.name, "Foreign Key Constraint",
                             f"{','.join(fk['columns'])} -> {fk['table']}"
                             f"({','.join(fk['refColumns'])})"))
            for d in spec_d.get("dataQualities", []):
                rows.append((d["name"], spec.name, "Custom Data Quality",
                             d["expression"]))
        return self._df(ctx, rows,
                        "name string, table string, type string, expression string")


@dataclass
class RunDQ(Command):
    """`DataQualitySpec.scala:280-482` — run constraint + custom checks;
    (name, table, type, total, valid, invalid) per check. Scalable
    formulations from operators/dq.py."""
    table_path: list[str]
    name: Optional[str] = None

    def run(self, ctx) -> DataFrame:
        from functools import reduce

        from lightning_metastore_spark.catalog.resolver import escape_braces
        from lightning_metastore_spark.operators import dq as dq_ops

        ns, usl, spec_d, table = _usl_for_table(ctx, self.table_path)
        spec = CreateTableSpec.from_dict(spec_d)
        df = ctx.resolver.load_table(self.table_path)
        results = []
        if self.name is None:
            pk = spec.all_pk_columns()
            if pk:
                results.append(dq_ops.pk_check(df, pk, ",".join(pk), table))
            for uk in spec.all_unique_keys():
                results.append(dq_ops.unique_check(df, uk, ",".join(uk), table))
            for fk in spec.all_foreign_keys():
                parent = ctx.resolver.load_table(_split_path(fk["table"]))
                results.append(dq_ops.fk_check(
                    df, fk["columns"], parent, fk["refColumns"],
                    ",".join(fk["columns"]), table))
        for d in spec_d.get("dataQualities", []):
            if self.name is None or d["name"] == self.name:
                results.append(dq_ops.custom_check(
                    df, d["expression"], d["name"], table))
        # @DataQuality annotations from the CREATE TABLE spec, with
        # ${var} -> CTE substitution (reference CreateTableSpec.
        # withDQExpression:97-111 / LightningParserUtils:53-71)
        for ann in spec_d.get("annotations", []):
            if ann.get("name", "").lower() != "dataquality":
                continue
            dq_name = ann.get("args", {}).get("name")
            expr = ann.get("args", {}).get("expression")
            if not dq_name or not expr:
                continue
            if self.name is not None and dq_name != self.name:
                continue
            cte_defs = {k: v for k, v in ann["args"].items()
                        if k not in ("name", "expression")}
            # each CTE body resolves to a DataFrame; the checked table
            # and the CTEs reach sql_with_views as {placeholders}, so
            # no named view outlives the statement
            dfs = {"rows": df}
            ctes = []
            for i, (k, v) in enumerate(cte_defs.items()):
                dfs[f"c{i}"] = ctx.resolver.resolve_sql(v)
                ctes.append(f"{escape_braces(k)} AS (SELECT * FROM {{c{i}}})")
            prefix = f"WITH {', '.join(ctes)} " if ctes else ""
            # ${var} becomes a subquery over its CTE (scalar or IN-list)
            expr_sub = re.sub(r"\$\{\{(\w+)\}\}", r"(SELECT * FROM \1)",
                              escape_braces(expr))
            stats = sql_with_views(
                ctx.spark,
                f"{prefix}SELECT COUNT(*) AS total, "
                f"CAST(SUM(CASE WHEN {expr_sub} THEN 1 ELSE 0 END) AS BIGINT)"
                f" AS valid FROM {{rows}}", **dfs)
            results.append(stats.selectExpr(
                f"'{dq_name}' AS dq_name", f"'{table}' AS table_name",
                "'Custom Data Quality' AS check_type",
                "CAST(total AS BIGINT) AS total", "valid",
                "CAST(total - valid AS BIGINT) AS invalid"))
        if not results:
            raise CommandParseError(
                f"no DQ named {self.name!r} on {table}" if self.name
                else f"no constraints or DQ on {table}")
        return reduce(DataFrame.unionAll, results)


@dataclass
class RunPipeline(Command):
    """`RUN PIPELINE <op> ON lightning.<table> [OPTIONS(...)]` — the
    LLM-data-pipeline operator surface exposed through the SQL dialect
    (and therefore the REST `/api/q` endpoint): a reference-style SQL
    user can run dedup/quality/profile operators on any registered
    table without touching the Python API.

    Beyond-reference extension (the reference has no pipeline
    operators); the op registry mirrors ``pipeline_api`` across every
    operator family: dedup (minhash/simhash/CDC/spans/semantic), graph
    (pagerank/triangles/communities over a pairs table), tokenizers
    (BPE + unigram-LM train/apply with OPTIONS(save/load) artifact
    paths), temporal product analytics (funnel/retention/DAU-WAU/
    rollup/gap-fill/zscore/LTTB), corpus profiling (tfidf/bm25/zipf/
    heavy-hitters/skyline/...), sampling/packing/chunking, embedding
    ops (quantize/project/outliers), and layout maintenance
    (compact/zorder/range-cluster/shard-export writing to
    OPTIONS(path)). Two-table ops name the second side via a TABLE
    option (asof_join, contamination)."""
    op: str
    table_path: list[str]
    options: dict = field(default_factory=dict)
    sink_path: Optional[list[str]] = None

    # op -> (callable(df, **kwargs), {option: coercion}); every op is a
    # DataFrame-in/DataFrame-out program from the pipeline surface
    @staticmethod
    def _registry():
        from pyspark.sql import functions as F

        from lightning_metastore_spark.functions import text as tf
        from lightning_metastore_spark.operators import cleaning, dedup
        from lightning_metastore_spark.operators.pipeline import (
            CurationConfig, curate_corpus)

        def clusters(df, threshold=0.5, **kw):
            pairs = dedup.minhash_lsh_pairs(df, threshold=threshold, **kw)
            return dedup.connected_components(pairs, df)

        def curate(df, min_quality=0.3, **kw):
            return curate_corpus(df, CurationConfig(
                min_quality=min_quality, **kw))

        def corpus_report_op(df, top_langs=10):
            """Dataset-card summary: size/token/dup/quality/language-mix metrics, one row per metric."""
            from lightning_metastore_spark.operators.pipeline import (
                corpus_report)
            return corpus_report(df, top_langs=top_langs)

        from lightning_metastore_spark.operators import (
            bpe, chunking, graph, layout, packing, quantization, retrieval,
            sampling, skyline as skyline_mod, temporal, unigram_lm)
        from lightning_metastore_spark.operators.heavy_hitters import (
            heavy_hitters)

        # option coercions beyond the builtin types: booleans arrive as
        # 'true'/'false' strings, lists as comma-separated values
        def _bool(v: str) -> bool:
            s = v.strip().lower()
            if s in ("1", "true", "yes"):
                return True
            if s in ("0", "false", "no"):
                return False
            raise ValueError(f"not a boolean: {v!r}")
        _bool.__name__ = "bool"

        def _discount(v: str):
            return "auto" if v.strip().lower() == "auto" else float(v)
        _discount.__name__ = "float_or_auto"

        def _rate_map(v: str) -> dict:
            out = {}
            for kv in v.split(","):
                kv = kv.strip()
                if not kv:
                    continue
                k, _, r = kv.partition(":")
                out[k.strip()] = float(r)
            if not out:
                raise ValueError("empty rate map")
            return out
        _rate_map.__name__ = "rate_map"

        def _csv(v: str) -> tuple:
            items = tuple(s.strip() for s in v.split(",") if s.strip())
            if not items:
                raise ValueError("empty list")
            return items
        _csv.__name__ = "csv"

        # ---- tokenizer train/apply: artifact path flows via OPTIONS ----
        def bpe_train(df, n_merges=16, min_pair_freq=2, text_col="text",
                      save=None, batch_m=1):
            """Learn BPE merge rules; OPTIONS(save '...') persists the artifact."""
            merges = bpe.learn_bpe_merges(
                df, n_merges=n_merges, min_pair_freq=min_pair_freq,
                text_col=text_col, batch_m=batch_m)
            if save:
                bpe.save_bpe_merges(df.sparkSession, merges, save)
            return local_frame(
                df.sparkSession,
                [(i, l, r, int(c)) for i, (l, r, c) in enumerate(merges)],
                "rank long, left string, right string, pair_freq long")

        def bpe_apply(df, load, text_col="text", id_col="doc_id"):
            """Tokenize with a saved BPE artifact (OPTIONS(load '...'))."""
            merges = bpe.load_bpe_merges(df.sparkSession, load)
            return bpe.apply_bpe_merges(df, merges, text_col=text_col,
                                        id_col=id_col)

        def unigram_train(df, vocab_size=64, em_iters=2, text_col="text",
                          save=None):
            """Train a unigram-LM (Kudo) tokenizer; OPTIONS(save '...') persists it."""
            pieces = unigram_lm.train_unigram_lm(
                df, vocab_size=vocab_size, em_iters=em_iters,
                text_col=text_col)
            if save:
                unigram_lm.save_unigram_lm(df.sparkSession, pieces, save)
            return local_frame(
                df.sparkSession,
                [(p, float(s)) for p, s in pieces],
                "piece string, logprob double")

        def unigram_apply(df, load, text_col="text", id_col="doc_id"):
            """Segment with a saved unigram-LM artifact (OPTIONS(load '...'))."""
            pieces = unigram_lm.load_unigram_lm(df.sparkSession, load)
            return unigram_lm.apply_unigram_lm(df, pieces,
                                               text_col=text_col,
                                               id_col=id_col)

        # ---- layout maintenance: results land on disk, summary row back ----
        def compact(df, path, out_path, target_mb=128):
            """Compact a parquet directory (OPTIONS(path, out_path)); ON table supplies the session only."""
            stats = layout.compact_parquet(df.sparkSession, path, out_path,
                                           target_mb=target_mb)
            return local_frame(
                df.sparkSession,
                [(stats["n_input_files"], float(stats["input_mb"]),
                  stats["n_output_files"], out_path)],
                "n_input_files long, input_mb double, "
                "n_output_files long, out_path string")

        def zorder(df, path, cols, n_files=16):
            """Write the table Z-order clustered on cols to OPTIONS(path)."""
            layout.write_zorder_clustered(df, path, list(cols),
                                          n_files=n_files)
            return local_frame(
                df.sparkSession,
                [(path, ",".join(cols), n_files)],
                "path string, cols string, n_files long")

        def range_cluster(df, path, cols, n_files=16):
            """Write the table range-clustered on cols to OPTIONS(path)."""
            layout.write_range_clustered(df, path, list(cols),
                                         n_files=n_files)
            return local_frame(
                df.sparkSession,
                [(path, ",".join(cols), n_files)],
                "path string, cols string, n_files long")

        def shard_export(df, path, n_shards=16, seed="0", id_col="doc_id"):
            """Export deterministic pseudo-random training shards to OPTIONS(path)."""
            layout.write_training_shards(df, path, n_shards=n_shards,
                                         seed=seed, id_col=id_col)
            return local_frame(
                df.sparkSession,
                [(path, n_shards, seed)],
                "path string, n_shards long, seed string")

        def skyline_op(df, minimize=(), maximize=()):
            """Pareto frontier over minimize/maximize column lists."""
            return skyline_mod.skyline(df, minimize=list(minimize),
                                       maximize=list(maximize))

        # ---- Bloom decontamination: build on the BENCHMARK table,
        # ---- decontaminate the training table against the artifact ----
        def bloom_build(df, save, n=3, n_bits=1 << 20, k=4):
            """Build a benchmark n-gram Bloom artifact at OPTIONS(save); returns its stats."""
            from lightning_metastore_spark.operators import (
                contamination as cont)
            bloom = cont.build_ngram_bloom(df, n=n, n_bits=n_bits, k=k)
            cont.save_ngram_bloom(df.sparkSession, bloom, save)
            return local_frame(
                df.sparkSession,
                [(save, bloom["n_bits"], bloom["k"], bloom["n"],
                  bloom["n_grams"], float(cont.bloom_fp_rate(bloom)))],
                "path string, n_bits long, k long, n long, "
                "n_grams long, fp_rate double")

        def bloom_decontaminate(df, load, flag_threshold=0.5):
            """Flag docs whose n-grams hit a saved Bloom artifact (OPTIONS(load))."""
            from lightning_metastore_spark.operators import (
                contamination as cont)
            bloom = cont.load_ngram_bloom(df.sparkSession, load)
            return cont.bloom_contamination(
                df, bloom, flag_threshold=flag_threshold)

        # ---- product quantization: train/encode/serve via artifacts ----
        def pq_train_op(df, save, m=8, k=16, iters=4):
            """Train PQ codebooks on the embedding table; OPTIONS(save '...') persists the artifact."""
            B = quantization.pq_train(df, m=m, k=k, iters=iters)
            quantization.save_pq_codebooks(df.sparkSession, B, save)
            return local_frame(
                df.sparkSession,
                [(save, int(B.shape[0]), int(B.shape[1]),
                  int(B.shape[2]))],
                "path string, m long, k long, dsub long")

        def pq_encode_op(df, load):
            """Encode vectors to PQ codes with a saved codebook artifact (OPTIONS(load '...'))."""
            B = quantization.load_pq_codebooks(df.sparkSession, load)
            return quantization.pq_encode(df, B)

        def pq_topk_op(df, load, query_vec_id, topk=5):
            """ADC top-k over PQ codes; the query is the UN-quantized vector of OPTIONS(query_vec_id)."""
            B = quantization.load_pq_codebooks(df.sparkSession, load)
            from pyspark.sql import functions as FF
            q = df.filter(FF.col("vec_id") == int(query_vec_id)) \
                .select("embedding").first()
            if q is None:
                raise ValueError(f"no vector with vec_id={query_vec_id}")
            codes = quantization.pq_encode(
                df.filter(FF.col("vec_id") != int(query_vec_id)), B)
            return quantization.pq_topk(codes, B, q["embedding"],
                                        topk=topk)

        def ivf_pq_topk_op(df, load, centroids, query_vec_id, topk=5,
                           nprobe=3):
            """Cell-pruned IVF-PQ top-k: coarse centroids from OPTIONS(centroids 'table'), PQ codebooks from OPTIONS(load)."""
            B = quantization.load_pq_codebooks(df.sparkSession, load)
            from pyspark.sql import functions as FF
            q = df.filter(FF.col("vec_id") == int(query_vec_id)) \
                .select("embedding").first()
            if q is None:
                raise ValueError(f"no vector with vec_id={query_vec_id}")
            return quantization.ivf_pq_topk(
                df.filter(FF.col("vec_id") != int(query_vec_id)),
                centroids, B, q["embedding"], topk=topk, nprobe=nprobe)

        # ---- reference-LM perplexity filter (CCNet pattern):
        # ---- train on the REFERENCE table, score any corpus ----
        def lm_train(df, save, text_col="text"):
            """Fit a bigram LM on the reference table; counts persist under OPTIONS(save) as distributed parquet."""
            from lightning_metastore_spark.operators import lm_filter
            stats = lm_filter.train_bigram_lm(df, save,
                                              text_col=text_col)
            return local_frame(
                df.sparkSession,
                [(save, stats["n_total"], stats["vocab"])],
                "path string, n_total long, vocab long")

        def lm_score(df, load, lam=0.7, text_col="text"):
            """Score docs under a saved reference LM (OPTIONS(load)) — bigram or Kneser-Ney artifact, layout auto-detected; threshold avg_logprob downstream."""
            from lightning_metastore_spark.operators import lm_filter
            return lm_filter.score_with_reference_lm(
                df, load, lam=lam, text_col=text_col)

        def kn_lm_train(df, save, order=3, min_count=1, discount=0.75,
                        text_col="text"):
            # (discount arrives as float or the literal 'auto')
            """Fit an order-n Kneser-Ney LM (the KenLM/CCNet family) on the reference table; counts persist under OPTIONS(save) as distributed parquet."""
            from lightning_metastore_spark.operators import lm_filter
            stats = lm_filter.train_kn_lm(
                df, save, order=order, min_count=min_count,
                discount=discount, text_col=text_col)
            return local_frame(
                df.sparkSession,
                [(save, stats["order"], stats["vocab"],
                  stats["u_types"], stats["t_total"])],
                "path string, order long, vocab long, u_types long, "
                "t_total long")

        # ---- quality classifier: train writes an artifact, apply
        # ---- scores with it (same hashing as classifier_score) ----
        def classifier_train(df, label_col, iters=8, lr=1.0,
                             n_buckets=4096, save=None, word_ngrams=1):
            """Train integer-milli-unit logreg weights on OPTIONS(label_col); OPTIONS(word_ngrams '2') adds fastText-style hashed word-bigram features; OPTIONS(save '...') persists the versioned artifact."""
            from lightning_metastore_spark.operators import (
                classifier as clf)
            w = clf.train_logreg_classifier(
                df, label_col, iters=iters, lr=lr, n_buckets=n_buckets,
                word_ngrams=word_ngrams)
            if save:
                clf.save_classifier_weights(
                    df.sparkSession, w, save, n_buckets=n_buckets,
                    word_ngrams=word_ngrams)
            return w

        def perplexity_buckets_op(df, head=1.0 / 3.0, middle=2.0 / 3.0,
                                  score_col="avg_logprob",
                                  group_col="lang"):
            """CCNet head/middle/tail bucketing of a scored relation (run lm_score + join the group column first)."""
            from lightning_metastore_spark.operators import lm_filter
            return lm_filter.perplexity_buckets(
                df, cuts=(head, middle), score_col=score_col,
                group_col=group_col)

        def ccnet_sample_op(df, head=1.0, middle=0.5, tail=0.1,
                            score_col="avg_logprob", group_col="lang"):
            """The full CCNet terminal step: per-group head/middle/tail buckets, then per-bucket deterministic thinning."""
            from lightning_metastore_spark.operators import lm_filter
            b = lm_filter.perplexity_buckets(
                df, score_col=score_col, group_col=group_col)
            return sampling.bucket_resample(
                b, {"head": head, "middle": middle, "tail": tail})

        def classifier_apply(df, load, n_buckets=4096, word_ngrams=1):
            """Score docs with a trained weight artifact (OPTIONS(load '...')); a versioned artifact validates n_buckets/word_ngrams."""
            from lightning_metastore_spark.functions import text as tfn
            from lightning_metastore_spark.operators import (
                classifier as clf)
            w = clf.load_classifier_weights(df.sparkSession, load)
            return tfn.classifier_score(df, n_buckets=n_buckets,
                                        weights=w,
                                        word_ngrams=word_ngrams)

        def ingest_admit(df, index_dir, threshold=0.5, max_span_frac=None,
                         bloom_path=None, bloom_threshold=0.5,
                         ref_lm_path=None, min_ref_logprob=None,
                         url_col=None, use_gopher_rules=False):
            """Admit a batch against a persisted dedup index (OPTIONS(index_dir)) — the backfill twin of the streaming ingest sink."""
            from lightning_metastore_spark.streaming.ingest import (
                dedup_batch_against_index)
            return dedup_batch_against_index(
                df.sparkSession, df, index_dir, threshold=threshold,
                max_span_frac=max_span_frac, bloom_path=bloom_path,
                bloom_threshold=bloom_threshold,
                ref_lm_path=ref_lm_path,
                min_ref_logprob=min_ref_logprob, url_col=url_col,
                use_gopher_rules=use_gopher_rules)

        return {
            "exact_dedup": (dedup.exact_dedup, {}),
            "near_dup_pairs": (dedup.minhash_lsh_pairs,
                               {"threshold": float, "n": int}),
            "dup_clusters": (clusters, {"threshold": float}),
            "cdc_dup_stats": (dedup.cdc_dup_stats,
                              {"window": int, "modulus": int}),
            "quality": (tf.quality_features, {}),
            "lang_id": (tf.lang_id, {}),
            "repetition": (tf.repetition_features, {}),
            "gopher_rules": (tf.gopher_quality_rules,
                             {"min_words": int, "max_words": int,
                              "min_mean_word_len": float,
                              "max_mean_word_len": float,
                              "max_symbol_ratio": float,
                              "max_bullet_frac": float,
                              "max_ellipsis_frac": float,
                              "min_alpha_frac": float,
                              "min_stop_words": int}),
            "entities": (tf.entity_counts, {}),
            "encoding": (tf.encoding_anomalies, {}),
            "zipf": (tf.zipf_fit, {"top_v": int}),
            "domains": (tf.domain_profile, {"min_avg_quality": float}),
            "pii_redact": (lambda df, text_col="text", id_col="doc_id":
                           df.select(F.col(id_col),
                                     tf.redact_pii(F.col(text_col))
                                     .alias("clean")), {}),
            # ---- multimodal binary columns (sources/multimodal.py) ----
            "as_binary": (
                lambda df:
                __import__("lightning_metastore_spark.sources.multimodal",
                           fromlist=["documents_as_binary"])
                .documents_as_binary(df), {}),
            "video_frames": (
                lambda df, n_frames=4:
                __import__("lightning_metastore_spark.sources.multimodal",
                           fromlist=["sample_video_frames"])
                .sample_video_frames(df, n_frames=n_frames),
                {"n_frames": int}),
            "image_dhash": (
                lambda df:
                __import__("lightning_metastore_spark.sources.multimodal",
                           fromlist=["image_dhash"])
                .image_dhash(df), {}),
            "boilerplate": (cleaning.remove_boilerplate_lines,
                            {"max_df": int}),
            "c4_clean": (cleaning.c4_line_clean,
                         {"min_line_words": int, "min_sentences": int}),
            "corpus_report": (corpus_report_op, {"top_langs": int}),
            "curate": (curate,
                       {"min_quality": float,
                        "max_dup_2gram_frac": float,
                        "use_gopher_rules": _bool,
                        "max_dup_span_frac": float, "dup_span_k": int,
                        "min_classifier_score": float,
                        "min_avg_logprob": float,
                        "normalize_form": str,
                        "html_input": _bool,
                        "max_link_density": float,
                        "ref_lm_path": str,
                        "min_ref_logprob": float,
                        "url_col": str,
                        "ccnet_bucket_rates": _rate_map,
                        "near_dup_threshold": float}),
            # two-table ops: the second side is another lightning
            # table, resolved via the TABLE option coercion
            "asof_join": (
                lambda df, right, ts_col="ts", by="user_id",
                tolerance_seconds=None:
                __import__("lightning_metastore_spark.operators.temporal",
                           fromlist=["asof_join"])
                .asof_join(df, right, ts_col=ts_col,
                           by=tuple(by.split(",")),
                           tolerance_seconds=tolerance_seconds),
                {"right": "TABLE", "ts_col": str, "by": str,
                 "tolerance_seconds": float}),
            "contamination": (
                lambda df, bench, n=3, flag_threshold=0.5:
                __import__("lightning_metastore_spark.operators."
                           "contamination",
                           fromlist=["contamination_overlap"])
                .contamination_overlap(df, bench, n=n,
                                       flag_threshold=flag_threshold),
                {"bench": "TABLE", "n": int, "flag_threshold": float}),
            "contamination_report": (
                lambda df, bench, n=3, max_grams=20:
                __import__("lightning_metastore_spark.operators."
                           "contamination",
                           fromlist=["contamination_report"])
                .contamination_report(df, bench, n=n,
                                      max_grams=max_grams),
                {"bench": "TABLE", "n": int, "max_grams": int}),
            "range_join": (
                lambda df, right, left_val, right_val, lo, hi, by="":
                __import__("lightning_metastore_spark.operators.temporal",
                           fromlist=["range_join"])
                .range_join(df, right, left_val, right_val, lo, hi,
                            by=tuple(b for b in by.split(",") if b)),
                {"right": "TABLE", "left_val": str, "right_val": str,
                 "lo": float, "hi": float, "by": str}),
            "ann_topk": (
                lambda df, queries, k=5:
                __import__("lightning_metastore_spark.operators."
                           "similarity",
                           fromlist=["brute_force_topk"])
                .brute_force_topk(df, queries, k=k),
                {"queries": "TABLE", "k": int}),
            "bloom_build": (bloom_build,
                            {"save": str, "n": int, "n_bits": int,
                             "k": int}),
            "bloom_decontaminate": (bloom_decontaminate,
                                    {"load": str,
                                     "flag_threshold": float}),
            "ingest_admit": (ingest_admit,
                             {"index_dir": str, "threshold": float,
                              "max_span_frac": float,
                              "bloom_path": str,
                              "bloom_threshold": float,
                              "ref_lm_path": str,
                              "min_ref_logprob": float,
                              "url_col": str,
                              "use_gopher_rules": _bool}),
            # ---- dedup (beyond minhash): simhash, spans, semantic ----
            "simhash_pairs": (dedup.simhash_pairs,
                              {"hamming_max": int,
                               "jaccard_threshold": float,
                               "n": int, "chunks": int}),
            "dup_spans": (dedup.corpus_dup_spans, {"k": int}),
            "remove_dup_spans": (dedup.remove_dup_spans,
                                 {"k": int, "min_occ": int}),
            "span_index": (dedup.span_index, {"k": int}),
            "span_admit": (
                lambda df, index, k=5, max_dup_frac=0.5:
                dedup.span_batch_against_index(
                    df, index, k=k, max_dup_frac=max_dup_frac),
                {"index": "TABLE", "k": int, "max_dup_frac": float}),
            "semdedup": (dedup.semantic_dedup,
                         {"n_planes": int, "threshold": float}),
            "dedup_keep": (dedup.dedup_keep,
                           {"method": str, "threshold": float,
                            "score_col": str}),
            "dedup_lines": (cleaning.dedup_lines_within_doc, {}),
            "normalize_text": (cleaning.normalize_text, {"form": str}),
            "html_extract": (
                lambda df, text_col="text", id_col="doc_id":
                __import__("lightning_metastore_spark.functions.html",
                           fromlist=["html_extract"])
                .html_extract(df, text_col=text_col, id_col=id_col),
                {"text_col": str, "id_col": str}),
            "url_canonicalize": (
                lambda df, url_col="url":
                __import__("lightning_metastore_spark.functions.html",
                           fromlist=["url_canonicalize"])
                .url_canonicalize(df, url_col=url_col),
                {"url_col": str}),
            "url_dedup": (
                lambda df, url_col="url", id_col="doc_id":
                __import__("lightning_metastore_spark.functions.html",
                           fromlist=["url_dedup"])
                .url_dedup(df, url_col=url_col, id_col=id_col),
                {"url_col": str, "id_col": str}),
            "corpus_diff": (
                lambda df, old:
                __import__("lightning_metastore_spark.operators.pipeline",
                           fromlist=["corpus_diff"])
                .corpus_diff(old, df),
                {"old": "TABLE"}),
            "corpus_drift": (
                lambda df, old, top_k=10:
                __import__("lightning_metastore_spark.operators.pipeline",
                           fromlist=["corpus_drift"])
                .corpus_drift(old, df, top_k=top_k),
                {"old": "TABLE", "top_k": int}),
            # ---- graph over a pairs/edges table ----
            "pagerank": (graph.pagerank,
                         {"src": str, "dst": str, "n_iter": int,
                          "damping": float, "symmetrize": _bool}),
            "triangles": (graph.triangle_counts,
                          {"src": str, "dst": str, "symmetrize": _bool}),
            "communities": (graph.label_propagation,
                            {"src": str, "dst": str, "n_iter": int,
                             "symmetrize": _bool}),
            # ---- tokenizers: train writes an artifact, apply loads it ----
            "bpe_train": (bpe_train,
                          {"n_merges": int, "min_pair_freq": int,
                           "save": str, "batch_m": int}),
            "bpe_apply": (bpe_apply, {"load": str}),
            "bpe_encode": (
                lambda df, load, text_col="text", id_col="doc_id":
                bpe.encode_bpe_ids(
                    df, bpe.load_bpe_merges(df.sparkSession, load),
                    text_col=text_col, id_col=id_col),
                {"load": str}),
            "bpe_fertility": (
                lambda df, load, group_col="lang", text_col="text",
                id_col="doc_id":
                bpe.tokenizer_fertility(
                    df, bpe.load_bpe_merges(df.sparkSession, load),
                    group_col=group_col, text_col=text_col,
                    id_col=id_col),
                {"load": str, "group_col": str, "text_col": str}),
            "unigram_train": (unigram_train,
                              {"vocab_size": int, "em_iters": int,
                               "save": str}),
            "unigram_apply": (unigram_apply, {"load": str}),
            # ---- temporal / product analytics over an events table ----
            "funnel": (temporal.funnel_counts, {"stages": _csv}),
            "sessionize": (temporal.sessionize,
                           {"gap_minutes": float}),
            "active_users": (temporal.rolling_active_users,
                             {"window_days": int}),
            "retention": (temporal.retention_cohorts,
                          {"max_offset_days": int}),
            "rollup": (temporal.hypertable_rollup,
                       {"resolutions": _csv}),
            "gap_fill": (temporal.gap_filled_hourly, {"method": str}),
            "rolling_zscore": (temporal.rolling_zscore,
                               {"trailing": int, "min_periods": int}),
            "lttb": (temporal.lttb_downsample, {"n_out": int}),
            # ---- corpus profiling / retrieval scores ----
            "heavy_hitters": (heavy_hitters, {"s": float}),
            "skyline": (skyline_op,
                        {"minimize": _csv, "maximize": _csv}),
            "tfidf": (tf.tfidf_top_terms, {"k": int}),
            "fingerprint": (tf.fingerprint, {}),
            "token_stats": (tf.encode_token_stats, {"vocab_size": int}),
            "phrase_search": (tf.phrase_search, {"phrase": str}),
            "bm25": (tf.bm25_scores,
                     {"query_terms": _csv, "k1": float, "b": float}),
            "unigram_logprob": (tf.unigram_logprob, {}),
            "bigram_logprob": (tf.bigram_logprob, {"lam": float}),
            "classifier_score": (tf.classifier_score,
                                 {"n_buckets": int,
                                  "word_ngrams": int}),
            "lm_train": (lm_train, {"save": str, "text_col": str}),
            "kn_lm_train": (kn_lm_train,
                            {"save": str, "order": int,
                             "min_count": int, "discount": _discount,
                             "text_col": str}),
            "lm_score": (lm_score,
                         {"load": str, "lam": float, "text_col": str}),
            "perplexity_buckets": (
                perplexity_buckets_op,
                {"head": float, "middle": float, "score_col": str,
                 "group_col": str}),
            "bucket_resample": (
                lambda df, rates=None, bucket_col="bucket":
                sampling.bucket_resample(
                    df,
                    dict((kv.split(":")[0], float(kv.split(":")[1]))
                         for kv in rates) if rates else None,
                    bucket_col=bucket_col),
                {"rates": _csv, "bucket_col": str}),
            "ccnet_sample": (
                ccnet_sample_op,
                {"head": float, "middle": float, "tail": float,
                 "score_col": str, "group_col": str}),
            "classifier_train": (classifier_train,
                                 {"label_col": str, "iters": int,
                                  "lr": float, "n_buckets": int,
                                  "save": str, "word_ngrams": int}),
            "classifier_apply": (classifier_apply,
                                 {"load": str, "n_buckets": int,
                                  "word_ngrams": int}),
            # ---- sampling / packing / chunking ----
            "stratified_sample": (sampling.stratified_fixed_n,
                                  {"n_per_group": int, "group_col": str}),
            "weighted_sample": (sampling.weighted_sample_n,
                                {"n": int, "weight_col": str}),
            "pack": (packing.packed_offsets,
                     {"capacity": int, "n_blocks": int}),
            "pack_bins": (packing.greedy_pack_bins,
                          {"capacity": int, "n_shards": int}),
            "quantile_normalize": (
                sampling.quantile_normalize,
                {"value_col": str, "group_col": str}),
            "temperature_resample": (
                sampling.temperature_resample,
                {"tau": float, "target_frac": float, "group_col": str}),
            "epoch_schedule": (
                sampling.epoch_schedule,
                {"tau": float, "target_frac": float, "group_col": str}),
            "budget_select": (
                sampling.budget_select,
                {"budget_tokens": int, "score_col": str,
                 "n_blocks": int}),
            "dsir_select": (
                lambda df, target, n=100, n_buckets=4096:
                sampling.dsir_select(df, target, n=n,
                                     n_buckets=n_buckets),
                {"target": "TABLE", "n": int, "n_buckets": int}),
            "rrf_fuse": (
                lambda df, other, query_col=None, k0=60:
                retrieval.rrf_fuse([df, other], query_col=query_col,
                                   k0=k0),
                {"other": "TABLE", "query_col": str, "k0": int}),
            "mine_hard_negatives": (
                lambda df, pairs, k=5, margin=0.0, id_col="vec_id",
                vec_col="embedding", query_col="query_id",
                pos_col="positive_id":
                retrieval.mine_hard_negatives(df, pairs, k=k,
                                              margin=margin,
                                              id_col=id_col,
                                              vec_col=vec_col,
                                              query_col=query_col,
                                              pos_col=pos_col),
                {"pairs": "TABLE", "k": int, "margin": float,
                 "id_col": str, "vec_col": str, "query_col": str,
                 "pos_col": str}),
            "hybrid_search": (
                lambda df, emb, query_terms, query_vec_id, k=10, k0=60,
                dense="brute", n_cells=16, n_probe=4:
                retrieval.hybrid_search(df, emb, query_terms,
                                        query_vec_id, k=k, k0=k0,
                                        dense=dense, n_cells=n_cells,
                                        n_probe=n_probe),
                {"emb": "TABLE", "query_terms": _csv,
                 "query_vec_id": int, "k": int, "k0": int,
                 "dense": str, "n_cells": int, "n_probe": int}),
            "mixture_resample": (
                lambda df, weights, target_frac=0.6, group_col="lang":
                sampling.mixture_resample(
                    df, dict((kv.split(":")[0], float(kv.split(":")[1]))
                             for kv in weights),
                    target_frac=target_frac, group_col=group_col),
                {"weights": _csv, "target_frac": float,
                 "group_col": str}),
            "pca_project": (
                lambda df, k=2, n_iter=8:
                (lambda cm: quantization.apply_pca(df, cm[0], cm[1]))(
                    quantization.power_iteration_pca(df, k=k,
                                                     n_iter=n_iter)),
                {"k": int, "n_iter": int}),
            "chunk": (chunking.chunk_documents,
                      {"chunk_size": int, "overlap": int}),
            # ---- embedding-table ops ----
            "quantize": (quantization.scalar_quantize_stats,
                         {"q_max": int}),
            "random_project": (quantization.random_project, {"k": int}),
            "norm_outliers": (quantization.norm_outliers,
                              {"k": float, "exact": _bool}),
            "pq_train": (pq_train_op,
                         {"save": str, "m": int, "k": int, "iters": int}),
            "pq_encode": (pq_encode_op, {"load": str}),
            "pq_topk": (pq_topk_op,
                        {"load": str, "query_vec_id": int, "topk": int}),
            "ivf_pq_topk": (ivf_pq_topk_op,
                            {"load": str, "centroids": "TABLE",
                             "query_vec_id": int, "topk": int,
                             "nprobe": int}),
            # ---- layout maintenance (writes to OPTIONS(path)) ----
            "compact": (compact,
                        {"path": str, "out_path": str, "target_mb": int}),
            "zorder": (zorder,
                       {"path": str, "cols": _csv, "n_files": int}),
            "range_cluster": (range_cluster,
                              {"path": str, "cols": _csv, "n_files": int}),
            "shard_export": (shard_export,
                             {"path": str, "n_shards": int, "seed": str}),
            "table_stats": (
                lambda df, columns=None, exact=False:
                __import__("lightning_metastore_spark.operators.layout",
                           fromlist=["table_stats"])
                .table_stats(df, columns=list(columns) if columns
                             else None, exact=exact),
                {"columns": _csv, "exact": _bool}),
        }

    def run(self, ctx) -> DataFrame:
        reg = self._registry()
        if self.op not in reg:
            raise CommandParseError(
                f"unknown pipeline op {self.op!r}; available: "
                + ", ".join(sorted(reg)))
        fn, coercions = reg[self.op]
        kwargs = {}
        for k, v in self.options.items():
            coerce = coercions.get(k, str)
            if coerce == "TABLE":
                # a second lightning table participates (e.g. the
                # decontamination benchmark): resolve it like ON's table
                kwargs[k] = ctx.resolver.load_table(_split_path(v))
                continue
            try:
                kwargs[k] = coerce(v)
            except ValueError as e:
                raise CommandParseError(
                    f"bad value for option {k!r}: {v!r}") from e
        missing = [k for k, t in coercions.items()
                   if t == "TABLE" and k not in kwargs]
        if missing:
            raise CommandParseError(
                f"op {self.op!r} requires table option(s): "
                + ", ".join(missing))
        df = ctx.resolver.load_table(self.table_path)

        def _bad_options(e: TypeError) -> CommandParseError:
            known = ", ".join(sorted(coercions)) or "(none)"
            return CommandParseError(
                f"bad option(s) for pipeline op {self.op!r}: {e}; "
                f"declared options: {known} (column-name options like "
                "text_col/id_col pass through as strings)")

        # validate kwargs against the callable BEFORE invoking, so a
        # typo'd OPTIONS key is a parse error while a genuine TypeError
        # raised during operator execution (eager ops: BPE learning,
        # PCA collect) propagates as the internal error it is
        import inspect
        try:
            inspect.signature(fn).bind(df, **kwargs)
        except TypeError as e:
            raise _bad_options(e) from e
        try:
            out = fn(df, **kwargs)
        except TypeError as e:
            # ops that forward **kwargs (e.g. curate -> CurationConfig)
            # only surface the typo at call time; translate ONLY the
            # unexpected-kwarg shape, let everything else propagate
            if "unexpected keyword argument" not in str(e):
                raise
            raise _bad_options(e) from e
        if self.sink_path is None:
            return out
        # SINK <lightning path>: materialize through the datasource unit
        # writer (the CTAS path) so curation results land as queryable
        # registered tables, SQL-only end to end
        from lightning_metastore_spark.catalog.units import (
            load_catalog_unit)

        rest = _require_root(self.sink_path, DATASOURCE_ROOT,
                             "RUN PIPELINE sink")
        hit = ctx.metastore.find_parent_datasource(rest)
        if hit is None:
            raise CommandParseError(
                f"no datasource at lightning.{'.'.join(self.sink_path)}")
        ds, residual = hit
        load_catalog_unit(ds).write_table(out, residual, mode="overwrite")
        return self._df(ctx, [(".".join(self.sink_path),)],
                        "written string")


@dataclass
class ListPipelineOps(Command):
    """`LIST PIPELINE OPS` — discoverability for the RUN PIPELINE
    surface: one row per op with its typed options."""

    def run(self, ctx) -> DataFrame:
        rows = []
        for op, (fn, coercions) in sorted(RunPipeline._registry().items()):
            opts = ", ".join(
                f"{k} ({t if isinstance(t, str) else t.__name__})"
                for k, t in sorted(coercions.items()))
            doc = (fn.__doc__ or "").strip().split("\n")[0]
            rows.append((op, opts, doc[:120]))
        return self._df(ctx, rows, "op string, options string, doc string")


@dataclass
class RemoveDQ(Command):
    name: str
    table_path: list[str]

    def run(self, ctx) -> DataFrame:
        ns, usl, spec, table = _usl_for_table(ctx, self.table_path)
        dqs = spec.get("dataQualities", [])
        kept = [d for d in dqs if d["name"] != self.name]
        if len(kept) == len(dqs):
            raise CommandParseError(f"no DQ named {self.name} on {table}")
        spec["dataQualities"] = kept
        ctx.metastore.save_usl(usl, replace=True)
        return self._df(ctx, [(self.name, table)], "removed string, table string")


@dataclass
class ShowDQRecords(Command):
    """`DataQualitySpec.scala:509-621` — return the valid or invalid rows."""
    name: str
    table_path: list[str]
    valid: bool
    limit: Optional[int] = None

    def run(self, ctx) -> DataFrame:
        from lightning_metastore_spark.operators import dq as dq_ops

        _, _, spec, table = _usl_for_table(ctx, self.table_path)
        d = next((x for x in spec.get("dataQualities", [])
                  if x["name"] == self.name), None)
        if d is None:
            raise CommandParseError(f"no DQ named {self.name} on {table}")
        df = ctx.resolver.load_table(self.table_path)
        return dq_ops.dq_records(df, d["expression"], valid=self.valid,
                                 limit=self.limit)


# ---------------------------------------------------------------------------
# parsing
# ---------------------------------------------------------------------------

_R_DS = re.compile(
    r"^REGISTER\s+(?P<replace>OR\s+REPLACE\s+)?(?P<type>" + _SOURCE_TYPES_ALT + r")\s+"
    r"DATASOURCE\s+(?P<name>[\w\-]+)\s*"
    r"(?:OPTIONS\s*\((?P<opts>.*?)\)\s*)?"
    r"NAMESPACE\s+(?P<ns>[\w.\-]+)\s*"
    r"(?:TAG\s*\((?P<tag>.*?)\)\s*)?$",
    re.I | re.S)

_R_CAT = re.compile(
    r"^REGISTER\s+(?P<replace>OR\s+REPLACE\s+)?CATALOG\s+(?P<name>[\w\-]+)\s*"
    r"(?:OPTIONS\s*\((?P<opts>.*?)\)\s*)?"
    r"SOURCE\s+(?P<src>[\w.\-]+)\s*"
    r"(?:NAME\s+LIKE\s+'(?P<like>[^']*)'\s*)?"
    r"NAMESPACE\s+(?P<ns>[\w.\-]+)\s*$",
    re.I | re.S)

_R_CREATE_NS = re.compile(
    r"^CREATE\s+NAMESPACE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<path>[\w.\-]+)\s*$", re.I)
_R_DROP_NS = re.compile(
    r"^DROP\s+NAMESPACE\s+(?P<ie>IF\s+EXISTS\s+)?(?P<path>[\w.\-]+)"
    r"\s*(?P<cascade>CASCADE)?\s*$", re.I)
_R_SHOW_NS = re.compile(
    r"^SHOW\s+NAMESPACES(\s+IN\s+(?P<path>[\w.\-]+))?\s*$", re.I)
_R_SHOW_T = re.compile(r"^SHOW\s+TABLES\s+IN\s+(?P<path>[\w.\-]+)\s*$", re.I)
_R_SHOW_NT = re.compile(
    r"^SHOW\s+NAMESPACES\s+OR\s+TABLES\s+IN\s+(?P<path>[\w.\-]+)\s*$", re.I)
_R_DESC = re.compile(
    r"^(DESC|DESCRIBE)\s+(TABLE\s+|DATASOURCE\s+)?(?P<path>[\w.\-]+)\s*$", re.I)
_R_DROP_DS = re.compile(r"^DROP\s+DATASOURCE\s+(?P<path>[\w.\-]+)\s*$", re.I)

_R_COMPILE = re.compile(
    r"^COMPILE\s+USL\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w\-]+)\s+"
    r"(?P<deploy>DEPLOY\s+)?NAMESPACE\s+(?P<ns>[\w.\-]+)\s+DDL\s+(?P<ddl>.*)$",
    re.I | re.S)
_R_ACTIVATE = re.compile(
    r"^ACTIVATE\s+USL\s+TABLE\s+(?P<path>[\w.\-]+)\s+AS\s+(?P<q>.*)$", re.I | re.S)
_R_LOAD_USL = re.compile(
    r"^LOAD\s+USL\s+(?P<name>[\w\-]+)\s+NAMESPACE\s+(?P<ns>[\w.\-]+)\s*$", re.I)
_R_UPDATE_USL = re.compile(
    r"^UPDATE\s+USL\s+(?P<name>[\w\-]+)\s+NAMESPACE\s+(?P<ns>[\w.\-]+)\s+AS\s+(?P<p>.*)$",
    re.I | re.S)
_R_REMOVE_USL = re.compile(
    r"^REMOVE\s+USL\s+(?P<name>[\w\-]+)\s+NAMESPACE\s+(?P<ns>[\w.\-]+)\s*$", re.I)

_R_REG_DQ = re.compile(
    r"^REGISTER\s+DQ\s+(?P<name>[\w\-]+)\s+TABLE\s+(?P<t>[\w.\-]+)\s+AS\s+(?P<e>.*)$",
    re.I | re.S)
_R_LIST_DQ = re.compile(r"^LIST\s+DQ\s+USL\s+(?P<path>[\w.\-]+)\s*$", re.I)
_R_RUN_DQ = re.compile(
    r"^RUN\s+DQ\s+(?:(?P<name>[\w\-]+)\s+)?TABLE\s+(?P<t>[\w.\-]+)\s*$", re.I)
_R_RUN_PIPELINE = re.compile(
    r"^RUN\s+PIPELINE\s+(?P<op>[\w\-]+)\s+ON\s+(?P<t>[\w.\-]+)\s*"
    r"(?:OPTIONS\s*\((?P<opts>.*?)\))?\s*"
    r"(?:SINK\s+(?P<sink>[\w.\-]+))?\s*$", re.I | re.S)
_R_REMOVE_DQ = re.compile(
    r"^REMOVE\s+DQ\s+(?P<name>[\w\-]+)\s+TABLE\s+(?P<t>[\w.\-]+)\s*$", re.I)
_R_SHOW_DQ = re.compile(
    r"^SHOW\s+DQ\s+(?P<kind>VALID|INVALID)\s+RECORD\s+(?P<name>[\w\-]+)\s+"
    r"TABLE\s+(?P<t>[\w.\-]+)(\s+LIMIT\s+(?P<limit>\d+))?\s*$", re.I)


_R_INSERT = re.compile(
    r"^INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(TABLE\s+)?(?P<path>[\w.\-]+)\s+"
    r"(?P<q>(SELECT|VALUES|WITH|TABLE)\b.*)$", re.I | re.S)
_R_CTAS = re.compile(
    r"^CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<path>LIGHTNING\.[\w.\-]+)\s+"
    r"AS\s+(?P<q>.*)$", re.I | re.S)


_R_UPDATE_TAGS = re.compile(
    r"^UPDATE\s+(?P<path>LIGHTNING\.[\w.\-]+)\s+SET\s+(?P<sets>.+?)"
    r"(?:\s+WHERE\s+(?P<where>.+))?$", re.I | re.S)


def _parse_assignments(s: str) -> dict[str, str]:
    from lightning_metastore_spark.parser.create_table import _split_top_level

    out = {}
    for item in _split_top_level(s):
        if "=" not in item:
            raise CommandParseError(f"bad SET assignment: {item!r}")
        k, v = item.split("=", 1)
        k = k.strip()
        # strip a target-alias prefix ("t.col = ...")
        if "." in k:
            k = k.split(".")[-1]
        out[k] = v.strip()
    return out


_R_DELETE = re.compile(
    r"^DELETE\s+FROM\s+(?P<path>[\w.\-]+)"
    r"(?:\s+WHERE\s+(?P<w>.+))?\s*$", re.I | re.S)
_R_OPTIMIZE = re.compile(
    r"^OPTIMIZE\s+(?P<path>[\w.\-]+)"
    r"(?:\s+TARGET\s+SIZE\s+(?P<sz>\d+))?"
    r"(?:\s+ZORDER\s+BY\s*\((?P<zcols>[^)]+)\))?\s*$", re.I)
_R_REORG = re.compile(
    r"^REORG\s+TABLE\s+(?P<path>[\w.\-]+)\s+APPLY\s*\(\s*PURGE\s*\)"
    r"\s*$", re.I)
_R_REWRITE_MANIFESTS = re.compile(
    r"^REWRITE\s+MANIFESTS\s+(?P<path>[\w.\-]+)"
    r"(?:\s+TARGET\s+ENTRIES\s+(?P<n>\d+))?\s*$", re.I)
_R_VACUUM = re.compile(
    r"^VACUUM\s+(?P<path>[\w.\-]+)"
    r"(?:\s+RETAIN\s+(?P<h>[\d.]+)\s+HOURS)?"
    r"(?:\s+(?P<force>FORCE))?"
    r"(?:\s+(?P<dry>DRY\s+RUN))?\s*$", re.I)
_R_EXPIRE = re.compile(
    r"^EXPIRE\s+SNAPSHOTS\s+(?P<path>[\w.\-]+)"
    r"(?:\s+OLDER\s+THAN\s+(?P<h>[\d.]+)\s+HOURS)?"
    r"(?:\s+RETAIN\s+LAST\s+(?P<n>\d+))?"
    r"(?:\s+(?P<dry>DRY\s+RUN))?\s*$", re.I)
_R_ORPHANS = re.compile(
    r"^REMOVE\s+ORPHAN\s+FILES\s+(?P<path>[\w.\-]+)"
    r"(?:\s+RETAIN\s+(?P<h>[\d.]+)\s+HOURS)?"
    r"(?:\s+(?P<force>FORCE))?"
    r"(?:\s+(?P<dry>DRY\s+RUN))?\s*$", re.I)
_R_RESTORE = re.compile(
    r"^RESTORE\s+(?:TABLE\s+)?(?P<path>[\w.\-]+)\s+(?:TO\s+)?"
    r"(?P<kind>VERSION|TIMESTAMP)\s+AS\s+OF\s+"
    r"(?:(?P<v>\d+)|'(?P<ts>(?:[^']|'')*)')\s*$", re.I)
_R_ALTER_ADDCON = re.compile(
    r"^ALTER\s+TABLE\s+(?P<path>[\w.\-]+)\s+ADD\s+CONSTRAINT\s+"
    r"(?P<name>\w+)\s+CHECK\s*\((?P<expr>.+)\)\s*$", re.I | re.S)
_R_ALTER_DROPCON = re.compile(
    r"^ALTER\s+TABLE\s+(?P<path>[\w.\-]+)\s+DROP\s+CONSTRAINT\s+"
    r"(?P<name>\w+)\s*$", re.I)
_R_ALTER_ADDCOLS = re.compile(
    r"^ALTER\s+TABLE\s+(?P<path>[\w.\-]+)\s+ADD\s+COLUMNS?\s*"
    r"\((?P<cols>.+)\)\s*$", re.I | re.S)
_R_ALTER_PROPS = re.compile(
    r"^ALTER\s+TABLE\s+(?P<path>[\w.\-]+)\s+SET\s+TBLPROPERTIES\s*"
    r"\((?P<props>.+)\)\s*$", re.I | re.S)
_R_PROP_PAIR = re.compile(
    r"'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'")
_R_MERGE_HEAD = re.compile(
    r"^MERGE\s+INTO\s+(?P<target>[\w.\-]+)"
    r"(?:\s+(?:AS\s+)?(?P<ta>(?!USING\b)\w+))?\s+USING\s+",
    re.I)
_R_MERGE_UPDATE = re.compile(
    r"^MATCHED(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+UPDATE\s+SET\s+"
    r"(?P<sets>.+)$", re.I | re.S)
_R_MERGE_DELETE = re.compile(
    r"^MATCHED(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+DELETE\s*$",
    re.I | re.S)
_R_MERGE_INSERT = re.compile(
    r"^NOT\s+MATCHED(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+INSERT\s+"
    r"(?:(?P<star>\*)|"
    r"\((?P<cols>[^)]*)\)\s*VALUES\s*\((?P<vals>.*)\))\s*$", re.I | re.S)
# delta-spark's extension: clauses claiming TARGET rows with no
# source match (conditions/SETs reference target columns only)
_R_MERGE_BYSRC_UPDATE = re.compile(
    r"^NOT\s+MATCHED\s+BY\s+SOURCE(?:\s+AND\s+(?P<cond>.+?))?"
    r"\s+THEN\s+UPDATE\s+SET\s+(?P<sets>.+)$", re.I | re.S)
_R_MERGE_BYSRC_DELETE = re.compile(
    r"^NOT\s+MATCHED\s+BY\s+SOURCE(?:\s+AND\s+(?P<cond>.+?))?"
    r"\s+THEN\s+DELETE\s*$", re.I | re.S)


def _parse_merge(text: str) -> "MergeInto":
    from lightning_metastore_spark.parser.create_table import _split_top_level

    m = _R_MERGE_HEAD.match(text)
    rest = text[m.end():].lstrip()
    if rest.startswith("("):
        depth, i = 0, 0
        for i, ch in enumerate(rest):
            depth += 1 if ch == "(" else (-1 if ch == ")" else 0)
            if depth == 0:
                break
        source_sql, rest = rest[: i + 1], rest[i + 1:].lstrip()
    else:
        source_sql, _, rest = rest.partition(" ")
        rest = rest.lstrip()
    sa = "s"
    am = re.match(r"(?:AS\s+)?(?!ON\b)(\w+)\s+", rest, re.I)
    if am:
        sa, rest = am.group(1), rest[am.end():]
    om = re.match(r"ON\s+(?P<cond>.+?)\s+(?=WHEN\s)", rest, re.I | re.S)
    if not om:
        raise CommandParseError("MERGE INTO requires ON <cond> WHEN ...")
    cond, clauses_text = om.group("cond"), rest[om.end():]
    cmd = MergeInto(target=_split_path(m.group("target")),
                    target_alias=m.group("ta") or "t",
                    source_sql=source_sql, source_alias=sa, on_cond=cond)
    # clauses build ORDERED lists: `WHEN MATCHED [AND c] THEN
    # UPDATE/DELETE`, `WHEN NOT MATCHED [AND c] THEN INSERT` — the
    # first clause whose condition holds claims the row (ANSI/Delta).
    # NOTE the WHEN-split means clause conditions cannot contain CASE
    # WHEN — the reference grammar has the same restriction shape.
    matched_clauses: list = []
    insert_clauses: list = []
    source_clauses: list = []
    for clause in re.split(r"\bWHEN\s+", clauses_text, flags=re.I):
        clause = clause.strip()
        if not clause:
            continue
        cm = _R_MERGE_BYSRC_UPDATE.match(clause)
        if cm:
            source_clauses.append(
                (cm.group("cond"), "update",
                 _parse_assignments(cm.group("sets"))))
            continue
        cm = _R_MERGE_BYSRC_DELETE.match(clause)
        if cm:
            source_clauses.append((cm.group("cond"), "delete", None))
            continue
        cm = _R_MERGE_UPDATE.match(clause)
        if cm:
            matched_clauses.append(
                (cm.group("cond"), "update",
                 _parse_assignments(cm.group("sets"))))
            continue
        cm = _R_MERGE_DELETE.match(clause)
        if cm:
            matched_clauses.append((cm.group("cond"), "delete", None))
            continue
        cm = _R_MERGE_INSERT.match(clause)
        if cm:
            if cm.group("star"):
                insert_clauses.append((cm.group("cond"), None, None))
            else:
                insert_clauses.append(
                    (cm.group("cond"),
                     [c.strip() for c in cm.group("cols").split(",")],
                     [v.strip() for v in
                      _split_top_level(cm.group("vals"))]))
            continue
        raise CommandParseError(f"unsupported MERGE clause: WHEN {clause[:60]}")
    from lightning_metastore_spark.sources import merge_clauses as _mcl
    try:
        _mcl.validate_clauses(matched_clauses, insert_clauses,
                              source_clauses)
    except _mcl.MergeClauseError as e:
        raise CommandParseError(str(e)) from e
    cmd.matched_clauses = matched_clauses
    cmd.insert_clauses = insert_clauses
    cmd.source_clauses = source_clauses
    return cmd


def parse_command(sql: str) -> Command:
    text = strip_comments(sql)

    if _R_MERGE_HEAD.match(text):
        return _parse_merge(text)
    m = _R_DELETE.match(text)
    if m:
        return DeleteFrom(path=_split_path(m.group("path")),
                          where=(m.group("w").strip()
                                 if m.group("w") else None))
    m = _R_OPTIMIZE.match(text)
    if m:
        return OptimizeTable(
            path=_split_path(m.group("path")),
            target_bytes=int(m.group("sz")) if m.group("sz") else None,
            zorder_by=([c.strip() for c in m.group("zcols").split(",")]
                       if m.group("zcols") else None))
    m = _R_REWRITE_MANIFESTS.match(text)
    if m:
        return RewriteManifests(
            path=_split_path(m.group("path")),
            target_entries=int(m.group("n")) if m.group("n")
            else 5000)
    m = _R_REORG.match(text)
    if m:
        return ReorgPurge(path=_split_path(m.group("path")))
    m = _R_VACUUM.match(text)
    if m:
        return VacuumTable(
            path=_split_path(m.group("path")),
            retention_hours=(float(m.group("h"))
                             if m.group("h") else 168.0),
            dry_run=bool(m.group("dry")),
            force=bool(m.group("force")))
    m = _R_EXPIRE.match(text)
    if m:
        return ExpireSnapshots(
            path=_split_path(m.group("path")),
            older_than_hours=(float(m.group("h"))
                              if m.group("h") else None),
            retain_last=int(m.group("n")) if m.group("n") else 1,
            dry_run=bool(m.group("dry")))
    m = _R_ORPHANS.match(text)
    if m:
        return RemoveOrphanFiles(
            path=_split_path(m.group("path")),
            retention_hours=(float(m.group("h"))
                             if m.group("h") else 72.0),
            dry_run=bool(m.group("dry")),
            force=bool(m.group("force")))
    m = _R_ALTER_ADDCON.match(text)
    if m:
        return AlterTable(path=_split_path(m.group("path")),
                          add_constraint=(m.group("name"),
                                          m.group("expr").strip()))
    m = _R_ALTER_DROPCON.match(text)
    if m:
        return AlterTable(path=_split_path(m.group("path")),
                          drop_constraint=m.group("name"))
    m = _R_ALTER_ADDCOLS.match(text)
    if m:
        from lightning_metastore_spark.parser.create_table import (
            _split_top_level,
        )
        cols = []
        for item in _split_top_level(m.group("cols")):
            parts = item.strip().split(None, 1)
            if len(parts) != 2:
                raise CommandParseError(
                    f"bad ADD COLUMNS entry: {item!r} (want "
                    f"'name type')")
            cols.append((parts[0], parts[1]))
        return AlterTable(path=_split_path(m.group("path")),
                          add_columns=cols)
    m = _R_ALTER_PROPS.match(text)
    if m:
        props = {k.replace("''", "'"): v.replace("''", "'")
                 for k, v in _R_PROP_PAIR.findall(m.group("props"))}
        if not props:
            raise CommandParseError(
                "SET TBLPROPERTIES needs 'key'='value' pairs")
        return AlterTable(path=_split_path(m.group("path")),
                          set_properties=props)
    m = _R_RESTORE.match(text)
    if m:
        return RestoreTable(
            path=_split_path(m.group("path")),
            version=int(m.group("v")) if m.group("v") else None,
            timestamp=(m.group("ts").replace("''", "'")
                       if m.group("ts") else None))
    m = _R_UPDATE_TAGS.match(text)
    if m:
        return UpdateFileTags(path=_split_path(m.group("path")),
                              assignments=_parse_assignments(m.group("sets")),
                              where=m.group("where"))
    m = _R_INSERT.match(text)
    if m:
        return InsertInto(path=_split_path(m.group("path")), query=m.group("q"),
                          overwrite=m.group("mode").upper() == "OVERWRITE")
    m = _R_CTAS.match(text)
    if m:
        return CreateTableAsSelect(path=_split_path(m.group("path")),
                                   query=m.group("q"),
                                   if_not_exists=bool(m.group("ine")))
    if text.startswith("@") or re.match(
            r"^CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?[\w.`\-]+\s*\(", text,
            re.I | re.S):
        return CreateTableSpecCommand(ddl=text)
    m = _R_DS.match(text)
    if m:
        return RegisterDataSource(
            name=m.group("name"), source_type=m.group("type").upper(),
            namespace=_split_path(m.group("ns")),
            options=parse_options(m.group("opts") or ""),
            replace=bool(m.group("replace")),
            tag_schema=(m.group("tag").strip() if m.group("tag") else None))
    m = _R_CAT.match(text)
    if m:
        return RegisterCatalog(
            name=m.group("name"), source=_split_path(m.group("src")),
            namespace=_split_path(m.group("ns")),
            replace=bool(m.group("replace")), name_like=m.group("like"),
            options=parse_options(m.group("opts") or ""))
    m = _R_COMPILE.match(text)
    if m:
        return CompileUSL(name=m.group("name"), namespace=_split_path(m.group("ns")),
                          ddl=m.group("ddl"), deploy=bool(m.group("deploy")),
                          if_not_exists=bool(m.group("ine")))
    m = _R_ACTIVATE.match(text)
    if m:
        return ActivateUSLTable(path=_split_path(m.group("path")), query=m.group("q"))
    m = _R_LOAD_USL.match(text)
    if m:
        return LoadUSL(m.group("name"), _split_path(m.group("ns")))
    m = _R_UPDATE_USL.match(text)
    if m:
        return UpdateUSL(m.group("name"), _split_path(m.group("ns")), m.group("p"))
    m = _R_REMOVE_USL.match(text)
    if m:
        return RemoveUSL(m.group("name"), _split_path(m.group("ns")))
    m = _R_REG_DQ.match(text)
    if m:
        return RegisterDQ(m.group("name"), _split_path(m.group("t")), m.group("e"))
    m = _R_LIST_DQ.match(text)
    if m:
        return ListDQ(_split_path(m.group("path")))
    m = _R_RUN_DQ.match(text)
    if m:
        return RunDQ(_split_path(m.group("t")), m.group("name"))
    if re.match(r"^LIST\s+PIPELINE\s+OPS\s*$", text, re.I):
        return ListPipelineOps()
    m = _R_RUN_PIPELINE.match(text)
    if m:
        return RunPipeline(op=m.group("op").lower(),
                           table_path=_split_path(m.group("t")),
                           options=parse_options(m.group("opts") or ""),
                           sink_path=(_split_path(m.group("sink"))
                                      if m.group("sink") else None))
    m = _R_REMOVE_DQ.match(text)
    if m:
        return RemoveDQ(m.group("name"), _split_path(m.group("t")))
    m = _R_SHOW_DQ.match(text)
    if m:
        return ShowDQRecords(m.group("name"), _split_path(m.group("t")),
                             valid=m.group("kind").upper() == "VALID",
                             limit=int(m.group("limit")) if m.group("limit") else None)
    m = _R_SHOW_NT.match(text)
    if m:
        return ShowNamespacesOrTables(_split_path(m.group("path")))
    m = _R_SHOW_NS.match(text)
    if m:
        return ShowNamespaces(_split_path(m.group("path") or ""))
    m = _R_SHOW_T.match(text)
    if m:
        return ShowTables(_split_path(m.group("path")))
    m = _R_CREATE_NS.match(text)
    if m:
        return CreateNamespace(_split_path(m.group("path")), bool(m.group("ine")))
    m = _R_DROP_NS.match(text)
    if m:
        return DropNamespace(_split_path(m.group("path")), bool(m.group("ie")),
                             bool(m.group("cascade")))
    m = _R_DROP_DS.match(text)
    if m:
        return DropDataSource(_split_path(m.group("path")))
    m = _R_DESC.match(text)
    if m:
        return DescribeTable(_split_path(m.group("path")),
                             datasource=bool(m.group(2))
                             and m.group(2).strip().upper() == "DATASOURCE")
    raise CommandParseError(f"unrecognized Lightning command: {text[:80]!r}")
