"""catalog_meta: the control plane. 300 parquet datasources over sf0.01
in nested namespaces plus USL databases with activated tables and DQ
rules; the loop is 80% SHOW / DESCRIBE / LIST DQ reads and 20%
REGISTER / DROP / COMPILE / ACTIVATE / REGISTER DQ writes, with targets
drawn Zipf-skewed over the datasources so first-touch resolves mix with
repeats. Expected outputs come from the generator's own registry."""

from __future__ import annotations

import itertools
import json

import data
from check import Stmt
from gen import kinds_in_order, rng_for, zipf_index
from harness import Workload

REGIONS = [f"r{i}" for i in range(4)]
GROUPS = [f"g{i}" for i in range(5)]
PER_GROUP = 15
N_MARTS = 3
WARMUP_ROUNDS = 1
READ_QUOTAS = {"show_namespaces": 7, "show_tables": 14,
               "show_namespaces_or_tables": 10, "describe_table": 20,
               "describe_datasource": 10, "list_dq": 7}
WRITE_QUOTAS = {"register_datasource": 7, "drop_datasource": 4,
                "compile_usl": 2, "activate_usl": 2, "register_dq": 3}
# variant B holds a subset of the tables, so re-registering a source
# over the other directory changes what SHOW TABLES / DESCRIBE see
VARIANT_TABLES = {"A": ("customer", "lineitem", "nation", "orders", "part",
                        "region", "supplier"),
                  "B": ("customer", "nation", "orders", "region")}
USL_DDL = ("create table orders_v (o_orderkey BIGINT primary key, "
           "o_custkey BIGINT, o_totalprice double); "
           "create table customers_v (c_custkey BIGINT primary key, "
           "c_name String, c_mktsegment String)")
ACTIVATIONS = {
    "orders_v": "SELECT o_orderkey, o_custkey, o_totalprice FROM {src}.orders",
    "customers_v": "SELECT c_custkey, c_name, c_mktsegment FROM "
                   "{src}.customer"}
CORE = "lightning.datasource.file.core.tpch"


class CatalogMeta(Workload):
    name = "catalog_meta"

    def make_inputs(self):
        tables = data.tpch_tables(self.env.seed, 0.01)
        self.columns = {t: data.spark_columns(tables[t]) for t in tables}
        self.paths = {
            v: self.dir("data", f"sf001{v.lower()}") for v in VARIANT_TABLES}
        for v, names in VARIANT_TABLES.items():
            data.write_tables({t: tables[t] for t in names}, self.paths[v])

    def setup(self):
        super().setup()
        from lightning_metastore_spark.model.serde import DataSource

        ms = self.ctx.metastore
        rng = rng_for(self.env.seed, "catalog_meta.setup")
        # bulk import through the model API (a catalog migration), then
        # the USLs through the SQL dialect
        self.sources = {}
        for r in REGIONS:
            for g in GROUPS:
                for k in range(PER_GROUP):
                    key = (r, g, f"ds{k:02d}")
                    variant = "A" if rng.random() < 0.7 else "B"
                    ms.save_datasource(DataSource(
                        key[2], ["file", r, g], "PARQUET",
                        {"path": self.paths[variant]}))
                    self.sources[key] = variant
        for ns, name in ((["file", "core"], "tpch"),
                         (["file", "warm"], "w0")):
            ms.save_datasource(DataSource(name, ns, "PARQUET",
                                          {"path": self.paths["A"]}))
        self.usls = {}
        for i in range(N_MARTS):
            self._deploy_usl("bi", f"mart{i}")
        self._deploy_usl("warm", "wmart")
        self.ctx.sql("CREATE NAMESPACE lightning.metastore.bi_w")

    def _deploy_usl(self, ns, name):
        self.ctx.sql(f"CREATE NAMESPACE IF NOT EXISTS lightning.metastore.{ns}")
        self.ctx.sql(f"COMPILE USL {name} DEPLOY NAMESPACE "
                     f"lightning.metastore.{ns} DDL {USL_DDL}")
        for t, q in ACTIVATIONS.items():
            self.ctx.sql(f"ACTIVATE USL TABLE lightning.metastore.{ns}.{name}"
                         f".{t} AS {q.format(src=CORE)}")
        self.ctx.sql(f"REGISTER DQ price_pos TABLE lightning.metastore."
                     f"{ns}.{name}.orders_v AS o_totalprice > 0")
        self.usls[(ns, name)] = {"orders_v": [("price_pos", "o_totalprice > 0")],
                                 "customers_v": []}

    def warmup(self):
        # WARMUP_ROUNDS of one statement per kind: the first timed
        # statements would otherwise pay the JVM's warm-up
        w = "lightning.datasource.file.warm"
        for r in range(WARMUP_ROUNDS):
            for q in (f"SHOW NAMESPACES IN {w}", f"SHOW TABLES IN {w}.w0",
                      f"SHOW NAMESPACES OR TABLES IN {w}",
                      f"DESCRIBE TABLE {w}.w0.orders",
                      f"DESCRIBE DATASOURCE {w}.w0",
                      "LIST DQ USL lightning.metastore.warm.wmart",
                      f"REGISTER OR REPLACE PARQUET DATASOURCE w0 OPTIONS("
                      f"path '{self.paths['A']}') NAMESPACE {w}",
                      f"REGISTER DQ warm_dq{r} TABLE lightning.metastore.warm."
                      "wmart.customers_v AS c_custkey > 0"):
                self.ctx.sql(q).collect()

    # -- statements ---------------------------------------------------------

    def statements(self):
        rng = rng_for(self.env.seed, "catalog_meta")
        kinds = kinds_in_order(rng, {**READ_QUOTAS, **WRITE_QUOTAS})
        order = sorted(self.sources)
        order = [order[i] for i in rng.permutation(len(order))]
        sources = dict(self.sources)
        usls = {k: {t: list(v) for t, v in d.items()}
                for k, d in self.usls.items() if k[0] != "warm"}
        counter = itertools.count()
        out = []

        def live_source():
            live = [k for k in order if k in sources]
            return live[zipf_index(rng, len(live))]

        def fqn(key):
            return "lightning.datasource.file." + ".".join(key)

        for kind in kinds:
            if kind == "show_namespaces":
                r = REGIONS[int(rng.integers(len(REGIONS)))]
                out.append(Stmt(kind, f"SHOW NAMESPACES IN "
                                f"lightning.datasource.file.{r}", False,
                                [(g,) for g in GROUPS]))
            elif kind == "show_tables":
                key = live_source()
                out.append(Stmt(kind, f"SHOW TABLES IN {fqn(key)}", False,
                                [(t,) for t in VARIANT_TABLES[sources[key]]]))
            elif kind == "show_namespaces_or_tables":
                r, g, _ = live_source()
                rows = [(k[2], "datasource") for k in sources
                        if k[:2] == (r, g)]
                out.append(Stmt(kind, f"SHOW NAMESPACES OR TABLES IN "
                                f"lightning.datasource.file.{r}.{g}", False,
                                rows))
            elif kind == "describe_table":
                key = live_source()
                tables = VARIANT_TABLES[sources[key]]
                t = tables[zipf_index(rng, len(tables), 0.8)]
                out.append(Stmt(kind, f"DESCRIBE TABLE {fqn(key)}.{t}", False,
                                [(c, typ, True) for c, typ in
                                 self.columns[t]], ordered=True))
            elif kind == "describe_datasource":
                key = live_source()
                out.append(Stmt(kind, f"DESCRIBE DATASOURCE {fqn(key)}",
                                False, [
                                    ("name", key[2]), ("type", "PARQUET"),
                                    ("namespace", "lightning.datasource.file."
                                     + ".".join(key[:2])),
                                    ("option:path",
                                     self.paths[sources[key]])]))
            elif kind == "list_dq":
                ns, name = sorted(usls)[int(rng.integers(len(usls)))]
                rows = []
                for t, dqs in usls[(ns, name)].items():
                    pk = "o_orderkey" if t == "orders_v" else "c_custkey"
                    rows.append(("_pk", t, "Primary Key Constraint", pk))
                    rows += [(d, t, "Custom Data Quality", e) for d, e in dqs]
                out.append(Stmt(kind, f"LIST DQ USL lightning.metastore."
                                f"{ns}.{name}", False, rows))
            elif kind == "register_datasource":
                dropped = [k for k in order if k not in sources]
                key = dropped[0] if dropped else live_source()
                variant = "A" if sources.get(key) == "B" else "B"
                sources[key] = variant
                out.append(Stmt(kind, f"REGISTER OR REPLACE PARQUET DATASOURCE "
                                f"{key[2]} OPTIONS(path "
                                f"'{self.paths[variant]}') NAMESPACE "
                                f"lightning.datasource.file."
                                f"{key[0]}.{key[1]}", True, [(fqn(key),)]))
            elif kind == "drop_datasource":
                key = live_source()
                del sources[key]
                out.append(Stmt(kind, f"DROP DATASOURCE {fqn(key)}", True,
                                [("datasource.file." + ".".join(key),)]))
            elif kind == "compile_usl":
                name = f"w{next(counter)}"
                usls[("bi_w", name)] = {"orders_v": [], "customers_v": []}
                out.append(Stmt(kind, f"COMPILE USL {name} DEPLOY NAMESPACE "
                                f"lightning.metastore.bi_w DDL {USL_DDL}",
                                True, _usl_json_check(name)))
            elif kind == "activate_usl":
                ns, name = sorted(usls)[int(rng.integers(len(usls)))]
                t = sorted(ACTIVATIONS)[int(rng.integers(2))]
                q = ACTIVATIONS[t].format(src=CORE)
                path = f"metastore.{ns}.{name}.{t}"
                out.append(Stmt(kind, f"ACTIVATE USL TABLE lightning.{path} "
                                f"AS {q}", True, [(path, q)]))
            elif kind == "register_dq":
                # only USLs compiled in setup have activated tables
                ns, name = sorted(k for k in usls if k[0] == "bi")[
                    int(rng.integers(N_MARTS))]
                dq = f"dq{next(counter)}"
                expr = f"o_totalprice > {int(rng.integers(1, 1000))}"
                usls[(ns, name)]["orders_v"].append((dq, expr))
                out.append(Stmt(kind, f"REGISTER DQ {dq} TABLE lightning."
                                f"metastore.{ns}.{name}.orders_v AS {expr}",
                                True, [(dq, f"metastore.{ns}.{name}.orders_v")]))
        return out


def _usl_json_check(name):
    def check(rows):
        if len(rows) != 1:
            return f"{len(rows)} rows, expected 1"
        doc = json.loads(rows[0][0])
        got = (doc.get("name"), sorted(t["name"] for t in doc["tables"]))
        want = (name, ["customers_v", "orders_v"])
        return None if got == want else f"{got!r} != expected {want!r}"
    return check
