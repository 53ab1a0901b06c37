"""Which program entry points the traced run wraps, and the counters
hung on them. Layers are named after the program's modules:

- parser      ``is_lightning_command`` / ``parse_command`` (looked up by
              ``context``)
- commands    ``Command.run`` of every dispatcher command
- model       public ``Metastore`` methods; ``model.fs`` calls counted
- catalog.resolve  ``Resolver.resolve_sql`` / ``Resolver.load_table``
- catalog.unit     ``load_catalog_unit`` and ``CatalogUnit`` methods
- spark       ``DataFrame.collect`` / ``count`` / ``toLocalIterator``
- spark.local ``SparkSession.createDataFrame``
- sources     public functions of delta_reader, iceberg_reader,
              iceberg_writer and avro_codec
- operators   the callables ``RunPipeline`` dispatches to
- functions   public functions of ``functions.text`` / ``functions.html``
- api         the REST handler, ``rows_from_df``; ``encode_value`` time
              is a counter, not a span
"""

from __future__ import annotations

import inspect
import os
import threading
import time

from spans import Tracer

_FS_OPS = ("read_bytes", "write_bytes", "exists", "is_dir", "is_file",
           "mkdirs", "listdir", "walk", "remove", "rmtree", "replace")


def _public_functions(module):
    for name, v in sorted(vars(module).items()):
        if (not name.startswith("_") and inspect.isfunction(v)
                and v.__module__ == module.__name__):
            yield name


def _table_path(fn, args, kwargs):
    bound = inspect.signature(fn).bind_partial(*args, **kwargs).arguments
    return bound.get("path") or bound.get("table_path")


def _log_files(table_path: str) -> int:
    n = 0
    for sub in ("_delta_log", "metadata"):
        d = os.path.join(table_path, sub)
        if os.path.isdir(d):
            n += sum(1 for e in os.scandir(d) if e.is_file())
    return n


class JobGroups:
    """Tags every Spark job with the statement that fired it, so jobs and
    tasks per statement can be read from the status tracker after the
    loop (its listener bus is asynchronous)."""

    def __init__(self, sc):
        self.sc = sc

    @staticmethod
    def name(stmt: int, plan: bool = False) -> str:
        return f"perfbench-{stmt}{'-plan' if plan else ''}"

    def set(self, stmt: int, plan: bool = False) -> None:
        self.sc.setJobGroup(self.name(stmt, plan), "perfbench statement")

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs_and_tasks(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (list(info.stageIds) if info else ()):
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numTasks
        return len(jobs), tasks


def install(tracer: Tracer, spark, groups: JobGroups, server=None) -> None:
    from lightning_metastore_spark import api
    from lightning_metastore_spark.catalog import resolver, units
    from lightning_metastore_spark.functions import html, text
    from lightning_metastore_spark.model import fs, metastore
    from lightning_metastore_spark.parser import dispatcher
    from lightning_metastore_spark.sources import (
        avro_codec, delta_reader, iceberg_reader, iceberg_writer)

    # parser + commands
    tracer.patch_function(dispatcher, "is_lightning_command", "parser")
    tracer.patch_function(dispatcher, "parse_command", "parser")
    for cls in vars(dispatcher).values():
        if (isinstance(cls, type) and issubclass(cls, dispatcher.Command)
                and "run" in vars(cls)):
            tracer.patch_method(cls, "run", "commands")

    # model
    for name, v in vars(metastore.Metastore).items():
        if not name.startswith("_") and inspect.isfunction(v):
            tracer.patch_method(metastore.Metastore, name, "model")

    def fs_count(attr):
        def count(tr, args, kwargs, out):
            tr.add("fs.ops")
            if attr == "read_bytes":
                tr.add("fs.bytes_read", len(out))
            elif attr == "write_bytes":
                data = args[2] if len(args) > 2 else kwargs["data"]
                tr.add("fs.bytes_written", len(data))
        return count

    for attr in _FS_OPS:
        tracer.patch_counter(fs.LocalFileSystem, attr, fs_count(attr))

    # catalog
    tracer.patch_method(resolver.Resolver, "resolve_sql", "catalog.resolve")
    tracer.patch_method(resolver.Resolver, "load_table", "catalog.resolve",
                        name="resolver.load_table")
    tracer.patch_function(units, "load_catalog_unit", "catalog.unit")
    unit_classes = [c for c in vars(units).values()
                    if isinstance(c, type) and issubclass(c, units.CatalogUnit)]
    from lightning_metastore_spark.sources import unstructured
    unit_classes.append(unstructured.UnstructuredCatalogUnit)
    for cls in unit_classes:
        for attr in ("load_table", "list_tables", "list_namespaces",
                     "write_table"):
            if attr in vars(cls):
                tracer.patch_method(cls, attr, "catalog.unit",
                                    name=f"unit.{attr}")

    # spark (delegated execution)
    df_cls = type(spark.range(1))
    for attr in ("collect", "count"):
        tracer.patch_method(df_cls, attr, "spark", name=f"df.{attr}")

    def iterate(state, it, ok):
        return _TracedIterator(tracer, it, "spark", "df.toLocalIterator.next")
    tracer.patch_method(df_cls, "toLocalIterator", "spark",
                        name="df.toLocalIterator", after=iterate)
    tracer.patch_method(type(spark), "createDataFrame", "spark.local",
                        name="session.createDataFrame")

    # sources: reads count the log/metadata files present at each read
    read_entries = {(delta_reader, "read_delta"),
                    (iceberg_reader, "read_iceberg")}

    def read_hook(fn):
        def before(args, kwargs):
            tracer.add("sources.reads")
            tracer.add("sources.log_files",
                       _log_files(_table_path(fn, args, kwargs)))
        return {"before": before}

    for mod in (delta_reader, iceberg_reader, iceberg_writer, avro_codec):
        for name in _public_functions(mod):
            hooks = {}
            if (mod, name) in read_entries:
                hooks = read_hook(getattr(mod, name))
            tracer.patch_function(mod, name, "sources", **hooks)

    # operators: wrap what RunPipeline's registry hands out; jobs fired
    # while an op builds its plan land in the statement's "-plan" group
    def op_before(args, kwargs):
        if tracer.stmt is not None:
            groups.set(tracer.stmt, plan=True)
        tracer.add("operators.calls")

    def op_after(state, out, ok):
        if tracer.stmt is not None:
            groups.set(tracer.stmt)
        return out

    class _Registry(dict):
        def __getitem__(self, key):
            fn, coercions = dict.__getitem__(self, key)
            return (tracer.wrap(fn, "operators", f"op.{key}",
                                before=op_before, after=op_after),
                    coercions)

    def registry_after(state, reg, ok):
        return _Registry(reg)
    tracer.patch_method(dispatcher.RunPipeline, "_registry", "commands",
                        name="RunPipeline._registry", after=registry_after)
    for mod in (text, html):
        for name in _public_functions(mod):
            tracer.patch_function(mod, name, "functions")

    # api: the handler runs on the server's request thread
    handler_t0 = threading.local()

    def rows_after(state, it, ok):
        return _FirstRowIterator(tracer, it, handler_t0)

    def handler_before(args, kwargs):
        handler_t0.t = time.perf_counter()
        if tracer.stmt is not None:
            groups.set(tracer.stmt)
        return handler_t0.t

    def handler_after(t0, out, ok):
        tracer.add("api.handler_ms", (time.perf_counter() - t0) * 1000.0)
        return out

    tracer.patch_function(api, "rows_from_df", "api", after=rows_after)
    _patch_encode(tracer, api)
    if server is not None:
        handler = server._server.RequestHandlerClass
        for attr in ("do_POST", "do_GET"):
            tracer.patch_method(handler, attr, "api", name=f"handler.{attr}",
                                before=handler_before, after=handler_after)


def _patch_encode(tracer, api) -> None:
    """``encode_value`` runs once per result cell (and recurses into
    containers), so it gets no span: the time of each outermost call is
    summed into the statement's ``api.encode_ms`` counter, and stays
    part of the handler's self time."""
    orig = api.encode_value
    inner = threading.local()

    def encode_value(v):
        if not tracer.active or getattr(inner, "on", False):
            return orig(v)
        inner.on = True
        t0 = time.perf_counter()
        try:
            return orig(v)
        finally:
            dt = time.perf_counter() - t0
            inner.on = False
            tracer.add("api.encode_ms", dt * 1000.0)

    tracer.replace(api, "encode_value", encode_value)


class _TracedIterator:
    def __init__(self, tracer, it, layer, name):
        self.tracer, self.it, self.layer, self.name = tracer, it, layer, name

    def __iter__(self):
        return self

    def __next__(self):
        sp = self.tracer.open(self.layer, self.name)
        ok = False
        try:
            out = next(self.it)
            ok = True
            return out
        except StopIteration:
            ok = True
            raise
        finally:
            self.tracer.close(sp, err=not ok)


class _FirstRowIterator:
    """Counts the rows the REST handler streams and when the first one
    arrived relative to the handler's start."""

    def __init__(self, tracer, it, handler_t0):
        self.tracer, self.it, self.first = tracer, iter(it), True
        self.handler_t0 = handler_t0

    def __iter__(self):
        return self

    def __next__(self):
        row = next(self.it)
        if self.first:
            self.first = False
            t0 = getattr(self.handler_t0, "t", None)
            if t0 is not None:
                self.tracer.add("api.first_row_ms",
                                (time.perf_counter() - t0) * 1000.0)
                self.tracer.add("api.first_rows")
        self.tracer.add("api.rows")
        return row
