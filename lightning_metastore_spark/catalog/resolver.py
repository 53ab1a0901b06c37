"""`lightning.*` name resolution through Spark's own SQL parser.

The reference registers a DSv2 TableCatalog named `lightning` and lets
the analyzer call `loadTable` per identifier (SURVEY.md §3 EP2). PySpark
cannot register a Python TableCatalog, so the resolver does the
catalog's part around the analyzer: it parses the statement with
Spark's parser, resolves every relation named `lightning.*` (in
subqueries, CTE bodies, `VERSION`/`TIMESTAMP AS OF` and `EXPLAIN` too)
to a DataFrame via the metastore + catalog units, and splices a `{tN}`
placeholder in at the relation's offsets. `sql_with_views(spark,
template, **dataframes)` then analyses the statement; its per-statement
views exist only while it does, and dropping them uncaches nothing.
Comments, strings and backticks are the parser's business; like any
Spark identifier, a hyphenated name must be backticked
(`` lightning.datasource.file.`my-src`.t ``).

USL tables re-enter resolution with their activation SQL (the reference
nests `context.sql(...)` inside the scan, `usl/USLTableScan.scala:48-51`);
we add cycle detection, which the reference lacks (documented divergence).
"""

from __future__ import annotations

import itertools
import json
import os
import re
import threading
from typing import NamedTuple, Optional

from pyspark.sql import DataFrame, functions as F

from lightning_metastore_spark import plan_json as pj
from lightning_metastore_spark.catalog.units import (
    DeltaCatalogUnit,
    IcebergCatalogUnit,
    load_catalog_unit,
)
from lightning_metastore_spark.model.metastore import (
    DATASOURCE_ROOT,
    METASTORE_ROOT,
)
from lightning_metastore_spark.session import sql_with_views


class ResolutionError(Exception):
    pass


def _leaves(plan: dict) -> Optional[list[tuple]]:
    """[(rendered relation name, alias | None)] when ``plan`` is one
    relation or a tree of Joins over relations, each optionally
    aliased; None for any other shape."""
    kind = pj.kind(plan)
    if kind == "Join":
        out = []
        for kid in plan["_kids"]:
            sub = _leaves(kid)
            if sub is None:
                return None
            out += sub
        return out
    alias = None
    if kind == "SubqueryAlias":
        alias = plan["identifier"]["name"]
        plan = plan["_kids"][0]
    if pj.kind(plan) != "UnresolvedRelation":
        return None
    return [(plan["multipartIdentifier"], alias)]


def extract_prune_conjuncts(tree: list, rels: list, sql: str
                            ) -> Optional[dict[str, list[tuple]]]:
    """{table chain: [(col, op, literal), ...]} planning hints for the
    Delta/Iceberg units (stats / manifest-bounds file skipping), read
    from ``tree`` (the `plan_json.plan_tree` of ``sql``'s parsed plan)
    whose relations, in every scope, are ``rels``.

    A conjunct is a top-level AND member of a Filter's condition whose
    child is one relation or a tree of Joins over relations (a WHERE;
    not a HAVING or a filter over a derived table). It credits the
    relation its qualifier names uniquely: the alias, or for an
    unaliased relation its last name part or full chain; unqualified
    only when the Filter has one relation. WHERE conjuncts reject
    nulls, so crediting them is sound for every join type; `IS NULL`
    does not and credits single-relation Filters only. A chain named
    more than once in the statement (self-join, subquery, CTE body,
    union) gets no hint: hints are keyed by chain. Nor does time
    travel, nor a name a quoted ", " makes ambiguous. Any failure
    gives no hints. Always sound: Catalyst still applies the full
    predicate to the kept files."""
    keys = [".".join(r.parts).lower() for r in rels]
    chains = {"[" + ", ".join(r.parts) + "]": ".".join(r.parts)
              for r, key in zip(rels, keys)
              if _is_lightning(r.parts) and r.tt is None
              and keys.count(key) == 1
              and not any(", " in p for p in r.parts)}
    out: dict[str, list[tuple]] = {}
    try:
        for node in pj.nodes(tree):
            if pj.kind(node) != "Filter":
                continue
            leaves = _leaves(node["_kids"][0])
            if leaves is None:
                continue
            owner: dict = {}  # qualifier -> leaf index, -1 if shared
            for i, (name, alias) in enumerate(leaves):
                parts = tuple(name[1:-1].lower().split(", "))
                for q in ({(alias.lower(),)} if alias
                          else {parts[-1:], parts}):
                    owner[q] = -1 if q in owner else i
            single = 0 if len(leaves) == 1 else -1
            for expr in pj.and_members(node["condition"][0]):
                for parts, op, lit in pj.conjunct(expr, sql):
                    if op == "isnull" and single < 0:
                        continue
                    qual = tuple(p.lower() for p in parts[:-1])
                    i = owner.get(qual, -1) if qual else single
                    chain = chains.get(leaves[i][0]) if i >= 0 else None
                    if chain:
                        out.setdefault(chain, []).append(
                            (parts[-1], op, lit))
    except Exception:
        return None
    return out or None


# node fields toJSON writes as null that hold no plan and no name
_PLAIN_NULLS = {"options", "value", "hint", "evalMode", "evalContext",
                "groupingSetIndexes", "partitionSpec", "data"}


def _names_a_chain(tree: list) -> bool:
    """True when a column or star is qualified by a `lightning.` chain,
    or when toJSON left out a field that may hold one: it writes a Map
    (a named WINDOW's definitions), and any other value it cannot
    render, as null."""
    for node in pj.nodes(tree):
        kind = pj.kind(node)
        name = (node.get("nameParts") if kind == "UnresolvedAttribute"
                else node.get("target") if kind == "UnresolvedStar"
                else None)
        if name and name.lower().startswith("[lightning, "):
            return True
        if any((v is None and k not in _PLAIN_NULLS)
               or (isinstance(v, list) and None in v)
               for k, v in node.items()):
            return True
    return False


def _path_fingerprint(path: str) -> Optional[tuple]:
    """Cheap freshness token for a file-table path: root stat plus one
    scandir level (name, mtime, size). Spark's own writers always touch
    the root (_SUCCESS / new part files), so any in-session write
    invalidates; like Spark's relation cache, an EXTERNAL writer that
    mutates only a nested partition dir needs a fresh registration (or a
    changed option) to bust the entry. Capped at 4096 entries so the
    fingerprint (one stat and one scandir, <1 ms) stays below the load
    it saves: a parquet footer read plus Spark's listing, or a schema
    inference job where the unit falls back to one."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_mtime_ns, st.st_size)
        entries = []
        with os.scandir(path) as it:
            for e in it:
                s = e.stat()
                entries.append((e.name, s.st_mtime_ns, s.st_size))
                if len(entries) >= 4096:
                    break
        return (st.st_mtime_ns, tuple(sorted(entries)))
    except OSError:
        return None


class _Relation(NamedTuple):
    """One table reference of a parsed statement."""
    start: int          # text span of the reference: the name, plus a
    stop: int           # VERSION/TIMESTAMP AS OF clause (stop exclusive)
    parts: tuple        # the name's parts, as written
    tt: Optional[tuple]  # ("version" | "timestamp", value) or None


def _is_lightning(parts) -> bool:
    return len(parts) > 1 and parts[0].lower() == "lightning"


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _parts(scala_seq) -> tuple:
    return tuple(scala_seq.mkString("\x00").split("\x00"))


def escape_braces(text: str) -> str:
    """Literal text of a `sql_with_views` template."""
    return text.replace("{", "{{").replace("}", "}}")


def _splice(sql: str, edits: list[tuple], escape=escape_braces) -> str:
    """``sql`` with each (start, stop, text) span replaced by text; the
    text between spans passes through ``escape``."""
    out, pos = [], 0
    for start, stop, text in sorted(edits):
        out += [escape(sql[pos:start]), text]
        pos = stop
    return "".join(out) + escape(sql[pos:])


def _tree_nodes(plan, keep):
    """The nodes of ``plan`` (subqueries and CTE bodies included) whose
    line in Spark's numbered tree string passes ``keep``: one py4j call
    renders the tree, where a node-by-node walk costs ~1 ms per node.
    If a literal's line break spreads a node over two lines, every
    node is visited."""
    lines = plan.numberedTreeString().rstrip("\n").split("\n")
    aligned = plan.apply(len(lines) - 1) is not None
    for i in range(len(lines)) if aligned else itertools.count():
        if aligned and not keep(lines[i]):
            continue
        node = plan.apply(i)
        if node is None:
            return
        yield node


def _time_travel(node) -> tuple:
    if node.version().isDefined():
        return ("version", node.version().get())
    ts = node.timestamp().get()
    if ts.nodeName() != "Literal":
        raise ResolutionError(
            f"TIMESTAMP AS OF takes a literal, got {ts.sql()}")
    return ("timestamp", ts.toString())


class Resolver:
    def __init__(self, spark, metastore, current_user: Optional[str] = None):
        self.spark = spark
        self.metastore = metastore
        # identity for @AccessControl enforcement; None disables checks
        self.current_user = current_user
        # (datasource identity, residual) -> (path fingerprint, DataFrame).
        # Repeat queries against the same file table skip the unit's
        # load: for parquet one footer read on the driver plus Spark's
        # file listing (~12 ms on 4 vCPUs); the other formats and the
        # parquet fallbacks (reader options, mergeSchema,
        # subdirectories, no data file, a footer that fails to convert)
        # run Spark's schema inference, a job of ~80 ms. A DataFrame is an immutable
        # logical plan, so reuse is safe. REST request threads share
        # it, hence the lock.
        self._file_df_cache: dict = {}
        self._file_df_lock = threading.Lock()

    # -- public -------------------------------------------------------------

    def resolve_sql(self, sql: str,
                    _stack: frozenset = frozenset()) -> DataFrame:
        """Analyse ``sql`` with every lightning.* relation resolved to
        a `{tN}` placeholder of `sql_with_views(spark, template, **dfs)`.
        One parse serves everything: the relations, the file-skipping
        hints that the Delta/Iceberg units get from simple WHERE
        conjuncts (`extract_prune_conjuncts` reads them from the plan's
        JSON form and documents the soundness rules), and whether any
        column is qualified by a full chain. Catalyst still applies the
        full predicate to the kept files."""
        return self._resolve(sql, _stack, pushdown=False)

    def resolve_query(self, sql: str) -> DataFrame:
        """A top-level query under JDBC pushdown: a SELECT/WITH whose
        tables all live in one JDBC datasource runs at the source
        (`_jdbc_pushdown`); anything else resolves as `resolve_sql`
        does, on the same parse. Statement bodies (CTAS, INSERT, MERGE
        sources, views, USL activations) never come here: they keep
        Spark's dialect and column names."""
        return self._resolve(sql, frozenset(), pushdown=True)

    def _resolve(self, sql: str, _stack: frozenset,
                 pushdown: bool) -> DataFrame:
        if "lightning" not in sql.lower():
            return self.spark.sql(sql)
        root, plan, all_rels = self._parse(sql)
        rels = [r for r in all_rels if _is_lightning(r.parts)]
        if not rels:
            return self.spark.sql(sql)
        if (root.nodeName() == "CreateViewCommand"
                and root.viewType().toString() != "PersistedView"):
            return self._create_temp_view(root, _stack)
        if pushdown:
            pushed = self._jdbc_pushdown(sql, all_rels)
            if pushed is not None:
                return pushed
        tree = pj.plan_tree(plan)
        prune_hit = (extract_prune_conjuncts(tree, rels, sql)
                     if tree else None) or {}
        dfs: dict = {}
        placeholder: dict = {}  # (parts, tt, prune) -> "tN"
        edits = []
        for r in rels:
            prune = None if r.tt else prune_hit.get(".".join(r.parts))
            key = (tuple(p.lower() for p in r.parts), r.tt, repr(prune))
            if key not in placeholder:
                name = placeholder[key] = f"t{len(placeholder)}"
                try:
                    dfs[name] = self.load_table(list(r.parts[1:]), _stack,
                                                prune=prune, tt=r.tt)
                except Exception as e:
                    raise ResolutionError(
                        f"cannot resolve {sql[r.start:r.stop]!r}: {e}"
                    ) from e
            edits.append((r.start, r.stop, "{" + placeholder[key] + "}"))
        if tree is None or _names_a_chain(tree):
            by_parts = {k[0]: v for k, v in placeholder.items()}
            edits += self._chain_column_edits(plan, by_parts)
        return sql_with_views(self.spark, _splice(sql, edits), **dfs)

    def load_table(self, path: list[str],
                   _stack: frozenset = frozenset(),
                   prune: Optional[list[tuple]] = None,
                   tt: Optional[tuple] = None) -> DataFrame:
        """Resolve a full path (['datasource'|'metastore', ...]) to a
        DataFrame. Raises ResolutionError when nothing matches.
        ``prune`` (datasource root only) carries simple WHERE
        conjuncts down to lakehouse units for file skipping; ``tt`` is
        a ("version" | "timestamp", value) time-travel target."""
        root = path[0].lower()
        if root == DATASOURCE_ROOT:
            return self._load_datasource_table(path[1:], tt=tt, prune=prune)
        if root != METASTORE_ROOT:
            raise ResolutionError(f"unknown lightning root: {path[0]}")
        if tt is not None:
            raise ResolutionError("time travel (VERSION/TIMESTAMP AS OF) "
                                  "applies to lightning.datasource only")
        return self._load_metastore_table(path[1:], _stack)

    # -- parsing ------------------------------------------------------------

    def _parse(self, sql: str) -> tuple:
        """(parsed statement, the plan holding its relations, those
        relations in text order). EXPLAIN keeps its plan in a field, not
        as a child. Spark's ParseException propagates."""
        root = (self.spark._jsparkSession.sessionState().sqlParser()
                .parsePlan(sql))
        plan = (root.logicalPlan() if root.nodeName() == "ExplainCommand"
                else root)
        rels = []
        # a time-travel node's line names its relation too
        for node in _tree_nodes(plan, lambda ln: "UnresolvedRelation [" in ln):
            kind = node.nodeName()
            if kind not in ("UnresolvedRelation", "RelationTimeTravel"):
                continue
            timed = kind == "RelationTimeTravel"
            rel = node.relation() if timed else node
            rels.append(_Relation(
                rel.origin().startIndex().get(),
                node.origin().stopIndex().get() + 1,
                _parts(rel.multipartIdentifier()),
                _time_travel(node) if timed else None))
        return root, plan, sorted(rels)

    def _jdbc_pushdown(self, sql: str, rels: list):
        """When EVERY table a query touches lives in the SAME JDBC
        datasource, ship the whole query to the source as
        `dbtable=(query)` — the federation optimization the reference
        lacks (SURVEY §4: JDBC sources otherwise scan whole tables minus
        pushed filters). Returns a DataFrame or None when not applicable.

        Applicability guard: a SELECT/WITH whose relations (``rels``,
        from `_parse`) are all lightning.* chains (no time travel) of
        one JDBC datasource, found from the metastore alone; each chain
        becomes its name in the source. The pushed text runs in the
        REMOTE dialect, so Spark-only functions make it inapplicable.
        """
        head = sql.lstrip().split(None, 1)
        if not head or head[0].upper() not in ("SELECT", "WITH"):
            return None
        target = None  # (DataSource key, DataSource)
        edits = []
        for r in rels:
            if (not _is_lightning(r.parts) or r.tt is not None
                    or r.parts[1].lower() != DATASOURCE_ROOT):
                return None
            hit = self.metastore.find_parent_datasource(list(r.parts[2:]))
            if hit is None:
                return None
            ds, residual = hit
            if ds.source_type != "JDBC" or not residual:
                return None
            key = (tuple(ds.namespace), ds.name)
            if target is None:
                target = (key, ds)
            elif target[0] != key:
                return None  # spans two sources -> federate via Spark
            edits.append((r.start, r.stop, ".".join(residual)))
        if target is None:
            return None
        opts = dict(target[1].options)
        opts["dbtable"] = f"({_splice(sql, edits, escape=str)}) pushed_q"
        return self.spark.read.format("jdbc").options(**opts).load()

    def _chain_column_edits(self, plan, by_parts: dict) -> list[tuple]:
        """Edits that requalify columns written with a full chain
        (`lightning.datasource.f.t.orders.o_orderkey`, `... .orders.*`)
        by the placeholder of the statement's relation with the longest
        matching name. Other attributes are left to the analyzer."""
        edits = []
        # a long expression list prints as "... N more fields"
        for node in _tree_nodes(plan, lambda ln: "lightning" in ln.lower()
                                or "more field" in ln):
            exprs = _seq(node.expressions())
            if node.nodeName() == "WithWindowDefinition":
                # a named WINDOW keeps its specs in a Map, which
                # `expressions()` does not list
                exprs += _seq(node.windowDefinitions().values().toSeq())
            for expr in exprs:
                for leaf in _seq(expr.collectLeaves()):
                    kind = leaf.nodeName()
                    star = kind == "UnresolvedStar"
                    if star and leaf.target().isDefined():
                        parts = _parts(leaf.target().get())
                    elif kind == "UnresolvedAttribute":
                        parts = _parts(leaf.nameParts())
                    else:
                        continue
                    if not _is_lightning(parts):
                        continue
                    low = tuple(p.lower() for p in parts)
                    longest = len(parts) if star else len(parts) - 1
                    cut = next((n for n in range(longest, 1, -1)
                                if low[:n] in by_parts), None)
                    if cut is None:
                        continue
                    text = "{" + by_parts[low[:cut]] + "}" + "".join(
                        ".`" + p.replace("`", "``") + "`" for p in parts[cut:])
                    o = leaf.origin()
                    edits.append((o.startIndex().get(),
                                  o.stopIndex().get() + 1,
                                  text + (".*" if star else "")))
        return edits

    def _create_temp_view(self, cmd, _stack: frozenset) -> DataFrame:
        """CREATE [OR REPLACE] [GLOBAL] TEMP VIEW over lightning tables.
        A temp view made by SQL keeps its text and re-analyses it on
        every use, and that text would name views that live only while
        one statement is analysed. One made from a DataFrame keeps the
        analysed plan, so the view is registered that way."""
        cols = _seq(cmd.userSpecifiedColumns())
        if cmd.comment().isDefined() or any(c._2().isDefined() for c in cols):
            raise ResolutionError("a temp view over lightning tables "
                                  "takes no COMMENT")
        df = self.resolve_sql(cmd.originalText().get(), _stack)
        if cols:
            df = df.toDF(*[c._1() for c in cols])
        name = cmd.name().table()
        if cmd.viewType().toString() == "GlobalTempView":
            (df.createOrReplaceGlobalTempView if cmd.replace()
             else df.createGlobalTempView)(name)
        else:
            (df.createOrReplaceTempView if cmd.replace()
             else df.createTempView)(name)
        return self.spark.range(0).select()

    # -- datasource root ----------------------------------------------------

    def _load_datasource_table(self, rest: list[str],
                               tt: Optional[tuple] = None,
                               prune: Optional[list[tuple]] = None
                               ) -> DataFrame:
        hit = self.metastore.find_parent_datasource(rest)
        if hit is None:
            raise ResolutionError(
                f"no datasource found along lightning.datasource.{'.'.join(rest)}")
        ds, residual = hit
        unit = load_catalog_unit(ds)
        lakehouse = isinstance(unit, (DeltaCatalogUnit, IcebergCatalogUnit))
        if tt is not None:
            if not lakehouse:
                raise ResolutionError(
                    f"{ds.source_type} datasource "
                    f"lightning.datasource.{'.'.join(rest)} does not support "
                    "time travel (VERSION/TIMESTAMP AS OF)")
            kind, value = tt
            return unit.load_table(self.spark, residual,
                                   **{f"{kind}_as_of": value})
        if prune is not None and lakehouse:
            return unit.load_table(self.spark, residual, prune=prune)
        try:
            path = unit._resolve_path(residual) if ds.is_file else None
        except Exception:
            path = None
        fp = None if path is None else _path_fingerprint(path)
        if fp is None:
            return unit.load_table(self.spark, residual)
        key = (ds.name, tuple(ds.namespace), tuple(residual),
               tuple(sorted(ds.options.items())))
        with self._file_df_lock:
            cached = self._file_df_cache.get(key)
        if cached is not None and cached[0] == fp:
            return cached[1]
        df = unit.load_table(self.spark, residual)
        with self._file_df_lock:
            if len(self._file_df_cache) >= 256:
                self._file_df_cache.pop(next(iter(self._file_df_cache)))
            self._file_df_cache[key] = (fp, df)
        return df

    # -- metastore root -----------------------------------------------------

    def _load_metastore_table(self, rest: list[str],
                              _stack: frozenset) -> DataFrame:
        if not rest:
            raise ResolutionError("empty metastore path")
        # (a) snapshot-registered table: <ns...>/<name>_table.json
        t = self.metastore.load_table(rest[:-1], rest[-1])
        if t is not None:
            return self._load_registered(t)
        # (b) USL table: <ns...>/<usl>_usl.json + activation query
        if len(rest) >= 2:
            ns, usl_name, table = rest[:-2], rest[-2], rest[-1]
            usl = self.metastore.load_usl(ns, usl_name)
            if usl is not None:
                return self._load_usl_table(ns, usl, table, _stack)
        raise ResolutionError(
            f"no table or USL at lightning.metastore.{'.'.join(rest)}")

    def _load_registered(self, t) -> DataFrame:
        """Snapshot table: load the origin via its datasource, then apply
        the INGESTED schema as an override (cast per column) — mirrors
        `LightningCatalogUnit.loadTable` with schema copy (SURVEY §2.4).

        Statistics: when REGISTER CATALOG analyzed the table, its row
        count x Spark's own row-size estimate (8 bytes + each column's
        `defaultSize`, as `EstimationUtils.getSizePerRow`) gives the
        table size; a
        table under spark.sql.autoBroadcastJoinThreshold gets a
        broadcast hint. This matters most for JDBC snapshots — Spark
        prices an unknown JDBC relation at defaultSizeInBytes (huge), so
        a 5-row dimension would otherwise sort-merge-join against a
        billion-row fact instead of broadcasting (the docs-only stats
        claim at lightning-commands.md:28-33, actually implemented)."""
        from pyspark.sql.types import StructType

        src = t.source_fqn
        if src and src[0].lower() == "lightning":
            src = src[1:]
        df = self.load_table(src)
        schema = StructType.fromJson(json.loads(t.schema_json))
        cols = []
        for f_ in schema.fields:
            if f_.name not in df.columns:
                raise ResolutionError(
                    f"ingested column {f_.name!r} missing from source "
                    f"{'.'.join(t.source_fqn)}")
            cols.append(F.col(f_.name).cast(f_.dataType))
        out = df.select(*cols)
        if t.row_count is not None:
            est = t.row_count * (8 + out._jdf.schema().defaultSize())
            thr = (self.spark._jsparkSession.sessionState().conf()
                   .autoBroadcastJoinThreshold())
            if 0 < thr and est <= thr:
                out = out.hint("broadcast")
        return out

    def _load_usl_table(self, ns: list[str], usl, table: str,
                        _stack: frozenset) -> DataFrame:
        key = ".".join(ns + [usl.name, table]).lower()
        if key in _stack:
            raise ResolutionError(
                f"cyclic USL activation detected at {key} "
                f"(the reference would loop forever here)")
        spec = next((s for s in usl.tables if s.get("name", "").lower() == table.lower()),
                    None)
        if spec is None:
            raise ResolutionError(f"USL {usl.name} has no table {table!r}")
        query = self.metastore.load_activation(ns, usl.name, table)
        if query is None:
            # same error contract as USLTable.scala:47-52
            raise ResolutionError(
                f"USL table {table} is not activated (ACTIVATE USL TABLE first)")
        df = self.resolve_sql(query, _stack | {key})
        return self._enforce_access(df, spec, ns + [usl.name, table])

    def _enforce_access(self, df: DataFrame, spec: dict, path: list[str]):
        """@AccessControl enforcement — the reference parses these hints
        but never enforces them (the optimizer rule is commented out,
        LightningSparkSessionExtension.scala:38-39). Ours works:
        accessType=deny blocks listed users outright; accessType=regex
        masks values of columns whose name matches the `columns` regex.
        Disabled when no current_user is set (matching the reference's
        effective default)."""
        user = self.current_user
        if user is None:
            return df
        for ann in spec.get("annotations", []):
            if ann.get("name", "").lower() != "accesscontrol":
                continue
            args = ann.get("args", {})
            users = [u.strip() for u in args.get("users", "").split(",") if u.strip()]
            if users and user not in users:
                continue
            atype = args.get("accessType", "deny").lower()
            if atype == "deny":
                raise ResolutionError(
                    f"access denied for user {user!r} on "
                    f"lightning.metastore.{'.'.join(path)}")
            if atype == "regex":
                pat = re.compile(args.get("columns", ".*"), re.I)
                df = df.select(*[
                    F.lit("***").alias(c) if pat.fullmatch(c) else F.col(c)
                    for c in df.columns])
        return df
