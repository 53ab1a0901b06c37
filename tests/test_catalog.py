"""End-to-end catalog tests mirroring the reference suites
(RegisterFileDataSourceTestSuite, RegisterCatalogTestSuite,
CompileUCLTestSuite, ActivateUCLTableTestSuite,
RegisterDataQualityTestSuite — SURVEY.md §5)."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from lightning_metastore_spark.context import LightningContext  # noqa: E402

from tests.conftest import SF_DIR  # noqa: E402

TAXIS = [(1, 1000371, 1.8, 15.32, "N"), (2, 1000372, 2.5, 22.15, "N"),
         (2, 1000373, 0.9, 9.01, "N"), (1, 1000374, 8.4, 42.13, "Y")]
TAXIS_COLS = ["vendor_id", "trip_id", "trip_distance", "fare_amount",
              "store_and_fwd_flag"]


@pytest.fixture()
def ctx(spark, tmp_path):
    return LightningContext(spark, warehouse=str(tmp_path / "model"))


def test_register_parquet_datasource_and_query(ctx, spark):
    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE tpch OPTIONS(path '{SF_DIR}') "
            f"NAMESPACE lightning.datasource.file")
    out = ctx.sql("""
        SELECT o_orderpriority, count(*) AS n
        FROM lightning.datasource.file.tpch.orders
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """).collect()
    assert len(out) == 5 and all(r.n > 0 for r in out)

    # names are found by Spark's parser: a chain in a comment or a
    # string (even one with a backslash escape) is text, not a table
    for q in ("SELECT 1 AS x -- see lightning.datasource.nope.t",
              "SELECT 1 AS x /* lightning.datasource.nope.t */",
              "SELECT 'it\\'s lightning.datasource.nope.t' AS x"):
        assert len(ctx.sql(q).collect()) == 1
    n = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    # a backticked chain is the same table
    assert ctx.sql("SELECT count(*) AS n FROM `lightning`.`datasource`"
                   ".`file`.`tpch`.`orders`").collect()[0].n == n
    t = "lightning.datasource.file.tpch.orders"
    # relations in a WHERE subquery and in a CTE body resolve
    assert ctx.sql(f"SELECT count(*) AS n FROM {t} WHERE o_custkey IN "
                   f"(SELECT o_custkey FROM {t})").collect()[0].n == n
    assert ctx.sql(f"WITH o AS (SELECT * FROM {t}) "
                   "SELECT count(*) AS n FROM o").collect()[0].n == n
    plan = ctx.sql(f"EXPLAIN SELECT * FROM {t}").collect()[0][0]
    assert "orders.parquet" in plan
    # a temp view keeps working after the statement that made it
    ctx.sql(f"CREATE OR REPLACE TEMP VIEW v_orders AS SELECT * FROM {t}")
    assert ctx.sql("SELECT count(*) AS n FROM v_orders"
                   ).collect()[0].n == n
    spark.catalog.dropTempView("v_orders")
    # a routed query over a table the user has cached keeps it cached
    cached = ctx.table(t).cache()
    cached.count()
    try:
        assert ctx.sql(f"SELECT count(*) AS n FROM {t}").collect()[0].n == n
        assert cached.storageLevel.useMemory
    finally:
        cached.unpersist()
    # resolution leaves no view behind in the session catalog
    left = [v.name for v in spark.catalog.listTables()
            if v.name.startswith(("l_", "_pyspark_", "_lightning_"))]
    assert left == []


def test_register_requires_namespace_root(ctx):
    with pytest.raises(Exception, match="lightning.datasource"):
        ctx.sql(f"REGISTER PARQUET DATASOURCE t OPTIONS(path '{SF_DIR}') "
                f"NAMESPACE lightning.metastore.nope")


def test_federated_join_across_two_sources(ctx, spark, tmp_path):
    """data_virtulization.md:127-156 — join across two registered
    sources (here: parquet x csv)."""
    csv_dir = tmp_path / "csvsrc"
    spark.createDataFrame(
        [(1, "BUILDING"), (2, "AUTOMOBILE")], ["seg_id", "segment"]
    ).write.option("header", "true").csv(str(csv_dir / "segmap.csv"))
    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE tpch OPTIONS(path '{SF_DIR}') "
            f"NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER CSV DATASOURCE segs OPTIONS(path '{csv_dir}') "
            f"NAMESPACE lightning.datasource.file")
    out = ctx.sql("""
        SELECT s.segment, count(*) AS n
        FROM lightning.datasource.file.tpch.customer c
        JOIN lightning.datasource.file.segs.segmap s
          ON c.c_mktsegment = s.segment
        GROUP BY s.segment ORDER BY s.segment
    """).collect()
    assert [r.segment for r in out] == ["AUTOMOBILE", "BUILDING"]


def test_show_namespaces_and_tables(ctx):
    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE tpch OPTIONS(path '{SF_DIR}') "
            f"NAMESPACE lightning.datasource.file")
    ns = [r.namespace for r in ctx.sql("SHOW NAMESPACES IN lightning").collect()]
    assert ns == ["datasource", "metastore"]
    ns2 = [r.namespace for r in
           ctx.sql("SHOW NAMESPACES IN lightning.datasource").collect()]
    assert "file" in ns2
    tables = [r.tableName for r in
              ctx.sql("SHOW TABLES IN lightning.datasource.file.tpch").collect()]
    assert "orders" in tables and "lineitem" in tables
    merged = {(r.name, r.type) for r in
              ctx.sql("SHOW NAMESPACES OR TABLES IN lightning.datasource.file").collect()}
    assert ("tpch", "datasource") in merged


def test_describe_table(ctx):
    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE tpch OPTIONS(path '{SF_DIR}') "
            f"NAMESPACE lightning.datasource.file")
    rows = ctx.sql("DESCRIBE TABLE lightning.datasource.file.tpch.region").collect()
    assert [(r.col_name, r.data_type) for r in rows] == [
        ("r_regionkey", "int"), ("r_name", "string")]


def test_describe_datasource_masks_credentials(ctx):
    ctx.sql("CREATE NAMESPACE lightning.datasource.rdbms")
    ctx.sql("REGISTER JDBC DATASOURCE pgx "
            "OPTIONS(url 'jdbc:postgresql://h/db', user 'svc', "
            "password 'hunter2') NAMESPACE lightning.datasource.rdbms")
    props = {r.property: r.value for r in
             ctx.sql("DESCRIBE DATASOURCE lightning.datasource.rdbms.pgx").collect()}
    assert props["type"] == "JDBC"
    assert props["option:password"] == "***"
    assert props["option:url"] == "jdbc:postgresql://h/db"


# id -> (statement, declared result DDL, its rows); the rows are those
# the commands returned when their results were Python-RDD DataFrames
COMMAND_RESULTS = {
    "show_namespaces": (
        "SHOW NAMESPACES IN lightning",
        "namespace string", [("datasource",), ("metastore",)]),
    "show_tables": (
        "SHOW TABLES IN lightning.datasource.file.tpch",
        "tableName string",
        [(t,) for t in ("customer", "documents", "embeddings", "events",
                        "lineitem", "nation", "orders", "part", "region",
                        "supplier")]),
    "show_namespaces_or_tables": (
        "SHOW NAMESPACES OR TABLES IN lightning.datasource.file",
        "name string, type string", [("tpch", "datasource")]),
    "describe_table": (
        "DESCRIBE TABLE lightning.datasource.file.tpch.region",
        "col_name string, data_type string, nullable boolean",
        [("r_regionkey", "int", True), ("r_name", "string", True)]),
    "describe_datasource": (
        "DESCRIBE DATASOURCE lightning.datasource.file.tpch",
        "property string, value string",
        [("name", "tpch"), ("type", "PARQUET"),
         ("namespace", "lightning.datasource.file"),
         ("option:path", SF_DIR)]),
    "list_dq": (
        "LIST DQ USL lightning.metastore.crm.ordermart",
        "name string, table string, type string, expression string",
        [("_pk", "customers", "Primary Key Constraint", "c_custkey"),
         ("_uk", "customers", "Unique Constraint", "c_custkey,c_name"),
         ("_pk", "big_orders", "Primary Key Constraint", "o_orderkey"),
         ("_fk", "big_orders", "Foreign Key Constraint",
          "o_custkey -> lightning.metastore.crm.ordermart.customers"
          "(c_custkey)")]),
    "register_datasource": (
        f"REGISTER PARQUET DATASOURCE nums OPTIONS(path '{SF_DIR}') "
        "NAMESPACE lightning.datasource.file",
        "registered string", [("lightning.datasource.file.nums",)]),
    "drop_datasource": (
        "DROP DATASOURCE lightning.datasource.file.tpch",
        "dropped string", [("datasource.file.tpch",)]),
}


@pytest.mark.parametrize("case", list(COMMAND_RESULTS))
def test_command_result_is_local_and_job_free(ctx, spark, case):
    """A command's result is a LocalRelation built on the driver:
    collecting it runs no Spark job, and its schema (nullability too)
    and rows are the declared ones."""
    import uuid

    from pyspark.sql.types import StructType

    stmt, ddl, rows = COMMAND_RESULTS[case]
    _setup_usl(ctx)
    df = ctx.sql(stmt)
    assert df.isLocal()
    sc = spark.sparkContext
    group = f"command-result-{uuid.uuid4().hex}"
    sc.setJobGroup(group, stmt)
    try:
        got = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    # select("*") reads the schema back from the JVM's analysed plan
    assert df.select("*").schema == StructType.fromDDL(ddl)
    assert [tuple(r) for r in got] == rows


def test_register_catalog_snapshot(ctx):
    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE tpch OPTIONS(path '{SF_DIR}') "
            f"NAMESPACE lightning.datasource.file")
    ctx.sql("CREATE NAMESPACE lightning.metastore.snap")
    registered = ctx.sql(
        "REGISTER CATALOG tpchsnap SOURCE lightning.datasource.file.tpch "
        "NAME LIKE '%r%' NAMESPACE lightning.metastore.snap").collect()
    names = {r.registered.split(".")[-1] for r in registered}
    # only tables containing 'r' (LIKE filter, RegisterCatalogSpec :41-49)
    assert "orders" in names and "region" in names
    assert "events" not in names
    out = ctx.sql("""
        SELECT count(*) AS n FROM lightning.metastore.snap.tpchsnap.orders
    """).collect()
    assert out[0].n == 1500


USL_DDL = """
create table customers (c_custkey BIGINT primary key, c_name String,
  c_mktsegment String, UNIQUE (c_custkey, c_name));
create table big_orders (o_orderkey BIGINT primary key, o_custkey BIGINT,
  o_totalprice double,
  foreign key(o_custkey) references customers(c_custkey))
"""


def _setup_usl(ctx):
    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE tpch OPTIONS(path '{SF_DIR}') "
            f"NAMESPACE lightning.datasource.file")
    ctx.sql("CREATE NAMESPACE lightning.metastore.crm")
    ctx.sql(f"COMPILE USL ordermart DEPLOY NAMESPACE lightning.metastore.crm "
            f"DDL {USL_DDL}")


def test_usl_compile_activate_query(ctx):
    _setup_usl(ctx)
    ctx.sql("""ACTIVATE USL TABLE lightning.metastore.crm.ordermart.customers AS
        SELECT c_custkey, c_name, c_mktsegment
        FROM lightning.datasource.file.tpch.customer""")
    ctx.sql("""ACTIVATE USL TABLE lightning.metastore.crm.ordermart.big_orders AS
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM lightning.datasource.file.tpch.orders WHERE o_totalprice > 300000""")
    out = ctx.sql("""
        SELECT c.c_mktsegment, count(*) AS n
        FROM lightning.metastore.crm.ordermart.big_orders o
        JOIN lightning.metastore.crm.ordermart.customers c
          ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
    """).collect()
    assert len(out) == 5


def test_usl_not_activated_error(ctx):
    _setup_usl(ctx)
    with pytest.raises(Exception, match="not activated"):
        ctx.sql("SELECT * FROM lightning.metastore.crm.ordermart.customers").collect()


def test_usl_type_mismatch_rejected(ctx):
    """ActivateUCLTableTestSuite: downcasts are rejected by the
    upcast-compat lattice (LightningSource.scala:68-90)."""
    _setup_usl(ctx)
    with pytest.raises(Exception, match="type mismatch"):
        ctx.sql("""ACTIVATE USL TABLE lightning.metastore.crm.ordermart.customers AS
            SELECT CAST(c_custkey AS STRING), c_name, c_mktsegment
            FROM lightning.datasource.file.tpch.customer""")
    with pytest.raises(Exception, match="column count"):
        ctx.sql("""ACTIVATE USL TABLE lightning.metastore.crm.ordermart.customers AS
            SELECT c_custkey, c_name
            FROM lightning.datasource.file.tpch.customer""")


def test_usl_load_update_remove(ctx):
    _setup_usl(ctx)
    loaded = ctx.sql("LOAD USL ordermart NAMESPACE lightning.metastore.crm").collect()
    assert "customers" in loaded[0].json
    ctx.sql("REMOVE USL ordermart NAMESPACE lightning.metastore.crm")
    with pytest.raises(Exception, match="no USL"):
        ctx.sql("LOAD USL ordermart NAMESPACE lightning.metastore.crm")


def test_dq_register_run_list_remove(ctx):
    _setup_usl(ctx)
    ctx.sql("""ACTIVATE USL TABLE lightning.metastore.crm.ordermart.customers AS
        SELECT c_custkey, c_name, c_mktsegment
        FROM lightning.datasource.file.tpch.customer""")
    ctx.sql("""ACTIVATE USL TABLE lightning.metastore.crm.ordermart.big_orders AS
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM lightning.datasource.file.tpch.orders""")
    ctx.sql("""REGISTER DQ price_positive
        TABLE lightning.metastore.crm.ordermart.big_orders
        AS o_totalprice > 0""")
    listed = ctx.sql("LIST DQ USL lightning.metastore.crm.ordermart").collect()
    types = {r.type for r in listed}
    assert {"Primary Key Constraint", "Unique Constraint",
            "Foreign Key Constraint", "Custom Data Quality"} <= types
    results = ctx.sql(
        "RUN DQ TABLE lightning.metastore.crm.ordermart.big_orders").collect()
    by_type = {r.check_type: r for r in results}
    pk = by_type["Primary Key Constraint"]
    assert (pk.total, pk.valid, pk.invalid) == (1500, 1500, 0)
    fk = by_type["Foreign Key Constraint"]
    assert fk.invalid == 0
    custom = by_type["Custom Data Quality"]
    assert custom.total == 1500 and custom.invalid == 0
    ctx.sql("REMOVE DQ price_positive TABLE lightning.metastore.crm.ordermart.big_orders")
    listed2 = ctx.sql("LIST DQ USL lightning.metastore.crm.ordermart").collect()
    assert all(r.name != "price_positive" for r in listed2)


def test_dq_show_records(ctx):
    _setup_usl(ctx)
    ctx.sql("""ACTIVATE USL TABLE lightning.metastore.crm.ordermart.big_orders AS
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM lightning.datasource.file.tpch.orders""")
    ctx.sql("""REGISTER DQ low_price
        TABLE lightning.metastore.crm.ordermart.big_orders
        AS o_totalprice < 5000""")
    bad = ctx.sql("""SHOW DQ INVALID RECORD low_price
        TABLE lightning.metastore.crm.ordermart.big_orders LIMIT 5""").collect()
    assert len(bad) == 5
    assert all(r.o_totalprice >= 5000 for r in bad)


def test_usl_cycle_detection(ctx, tmp_path):
    _setup_usl(ctx)
    # activation that references the USL table itself
    ctx.metastore.save_activation(
        ["crm"], "ordermart", "customers",
        "SELECT c_custkey, c_name, c_mktsegment "
        "FROM lightning.metastore.crm.ordermart.customers")
    with pytest.raises(Exception, match="[cC]ycl"):
        ctx.sql("SELECT * FROM lightning.metastore.crm.ordermart.customers").collect()


def test_register_xml_datasource(ctx, tmp_path):
    """XML file source (built into Spark 4; reference lists XML as a
    datasource type)."""
    xml_dir = tmp_path / "xmlsrc"
    xml_dir.mkdir()
    (xml_dir / "people.xml").write_text(
        "<rows><row><pid>1</pid><name>ann</name></row>"
        "<row><pid>2</pid><name>bob</name></row></rows>")
    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER XML DATASOURCE xsrc OPTIONS(path '{xml_dir}') "
            f"NAMESPACE lightning.datasource.file")
    rows = ctx.sql("SELECT pid, name FROM "
                   "lightning.datasource.file.xsrc.people ORDER BY pid").collect()
    assert [(r.pid, r.name) for r in rows] == [(1, "ann"), (2, "bob")]


def test_unknown_trailing_segment_good_error(ctx):
    """A typo'd table behind a valid datasource must surface a lightning
    error, not a mangled temp-view name from the Spark analyzer."""
    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE tpch OPTIONS(path '{SF_DIR}') "
            f"NAMESPACE lightning.datasource.file")
    with pytest.raises(Exception, match="no parquet data|neither a table"):
        ctx.sql("SELECT * FROM lightning.datasource.file.tpch.nope").collect()
    # a hyphenated datasource name resolves when backticked; unquoted,
    # Spark's parser rejects it, as it would in the reference
    ctx.sql(f"REGISTER PARQUET DATASOURCE my-src OPTIONS(path '{SF_DIR}') "
            f"NAMESPACE lightning.datasource.file")
    assert ctx.sql("SELECT count(*) AS n FROM "
                   "lightning.datasource.file.`my-src`.region"
                   ).collect()[0].n == 5
    with pytest.raises(Exception, match="INVALID_IDENTIFIER"):
        ctx.sql("SELECT * FROM lightning.datasource.file.my-src.region")


def test_insert_into_and_ctas(ctx, spark, tmp_path):
    """INSERT INTO / CTAS delegated to the unit write path
    (doc data_virtulization.md:95-107)."""
    out_dir = tmp_path / "sink"
    out_dir.mkdir()
    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE tpch OPTIONS(path '{SF_DIR}') "
            f"NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE sink OPTIONS(path '{out_dir}') "
            f"NAMESPACE lightning.datasource.file")
    ctx.sql("""CREATE TABLE lightning.datasource.file.sink.top_nations AS
        SELECT n_name, count(*) AS n
        FROM lightning.datasource.file.tpch.nation n
        JOIN lightning.datasource.file.tpch.customer c
          ON n.n_nationkey = c.c_nationkey
        GROUP BY n_name""")
    first = ctx.sql("SELECT count(*) AS c FROM "
                    "lightning.datasource.file.sink.top_nations").collect()[0].c
    assert first == 25
    ctx.sql("""INSERT INTO lightning.datasource.file.sink.top_nations
        SELECT 'EXTRA' AS n_name, CAST(0 AS LONG) AS n""")
    after = ctx.sql("SELECT count(*) AS c FROM "
                    "lightning.datasource.file.sink.top_nations").collect()[0].c
    assert after == 26
    with pytest.raises(Exception, match="already exists"):
        ctx.sql("CREATE TABLE lightning.datasource.file.sink.top_nations AS "
                "SELECT 1 AS x")


def test_drop_datasource_and_namespace(ctx):
    ctx.sql("CREATE NAMESPACE lightning.datasource.tmp")
    ctx.sql(f"REGISTER PARQUET DATASOURCE t1 OPTIONS(path '{SF_DIR}') "
            f"NAMESPACE lightning.datasource.tmp")
    ctx.sql("DROP DATASOURCE lightning.datasource.tmp.t1")
    with pytest.raises(Exception):
        ctx.sql("SELECT * FROM lightning.datasource.tmp.t1.orders").collect()
    ctx.sql("DROP NAMESPACE lightning.datasource.tmp")


def test_chain_column_case_insensitive(ctx):
    """Spark SQL identifiers are case-insensitive — a trailing column
    segment in a lightning.* chain must resolve regardless of case."""
    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE tpch OPTIONS(path '{SF_DIR}') "
            f"NAMESPACE lightning.datasource.file")
    rows = ctx.sql(
        "SELECT lightning.datasource.file.tpch.orders.O_ORDERKEY AS k "
        "FROM lightning.datasource.file.tpch.orders ORDER BY k LIMIT 1"
    ).collect()
    assert len(rows) == 1 and rows[0].k is not None


def test_chain_in_literal_skips_column_walk(ctx, spark, monkeypatch):
    """Whether a column is qualified by a full chain is read from the
    parsed plan: a chain inside a string literal or a comment returns
    the same rows and takes no per-leaf walk; a chain-qualified column
    still does."""
    from lightning_metastore_spark.catalog.resolver import Resolver

    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE tpch OPTIONS(path '{SF_DIR}') "
            f"NAMESPACE lightning.datasource.file")
    calls = []
    walk = Resolver._chain_column_edits

    def counted(self, *args):
        calls.append(1)
        return walk(self, *args)

    monkeypatch.setattr(Resolver, "_chain_column_edits", counted)
    t = "lightning.datasource.file.tpch.region"
    want = sorted(r.r_name for r in
                  spark.read.parquet(f"{SF_DIR}/region.parquet").collect())
    rows = ctx.sql(f"SELECT r_name FROM {t} "
                   "WHERE r_name <> 'lightning.datasource.x' "
                   "-- lightning.datasource.y\n").collect()
    assert sorted(r.r_name for r in rows) == want
    assert calls == []
    rows = ctx.sql(f"SELECT {t}.r_name FROM {t}").collect()
    assert sorted(r.r_name for r in rows) == want
    assert calls == [1]
    # a chain-qualified column inside a CTE body is seen too
    rows = ctx.sql(f"WITH c AS (SELECT {t}.r_name AS n FROM {t}) "
                   "SELECT n FROM c").collect()
    assert sorted(r.n for r in rows) == want
    assert calls == [1, 1]
    # toJSON writes a named WINDOW's specs as null, so the walk runs,
    # and it requalifies a chain-qualified column inside them
    rows = ctx.sql(f"SELECT r_name, count(*) OVER w AS c FROM {t} "
                   f"WINDOW w AS (PARTITION BY {t}.r_regionkey)").collect()
    assert sorted(r.r_name for r in rows) == want
    assert all(r.c == 1 for r in rows)
    assert calls == [1, 1, 1]


def test_schema_drift_report(ctx, spark, tmp_path):
    """Snapshot a source, evolve the source schema, and get per-column
    drift rows with the upcast verdict of the ACTIVATE lattice."""
    from lightning_metastore_spark.catalog.drift import schema_drift

    src = str(tmp_path / "driftsrc")
    spark.createDataFrame([(1, "a", 10)],
                          "id int, name string, v bigint") \
        .write.parquet(f"{src}/t1.parquet")
    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE drft OPTIONS(path '{src}') "
            "NAMESPACE lightning.datasource.file")
    ctx.sql("CREATE NAMESPACE lightning.metastore.driftns")
    ctx.sql("REGISTER CATALOG snapd SOURCE lightning.datasource.file.drft "
            "NAMESPACE lightning.metastore.driftns")

    assert schema_drift(ctx, ["driftns", "snapd"]).count() == 0

    # evolve: id widens (lossy vs snapshot), name removed, v narrows
    # (still upcasts into the stored bigint), extra added
    spark.createDataFrame([(1, 5, 2.0)], "id bigint, v int, extra double") \
        .write.mode("overwrite").parquet(f"{src}/t1.parquet")

    drift = {(r.column, r.change): r
             for r in schema_drift(ctx, ["driftns", "snapd"]).collect()}
    assert drift[("name", "removed")].upcast_ok is False
    assert drift[("extra", "added")].current_type == "double"
    assert drift[("id", "type_changed")].upcast_ok is False   # int <- bigint
    assert drift[("v", "type_changed")].upcast_ok is True     # bigint <- int
    assert len(drift) == 4


def test_run_pipeline_command_surface(ctx, spark):
    """RUN PIPELINE exposes the LLM-pipeline operators through the SQL
    dialect — equivalent to calling the Python API on the same table."""
    from lightning_metastore_spark.functions import text as tfn
    from lightning_metastore_spark.operators import dedup as ddp

    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE tpch OPTIONS(path '{SF_DIR}') "
            f"NAMESPACE lightning.datasource.file")
    tbl = "lightning.datasource.file.tpch.documents"

    out = ctx.sql(f"RUN PIPELINE quality ON {tbl}")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    want = sorted(map(tuple, tfn.quality_features(docs).collect()))
    assert sorted(map(tuple, out.collect())) == want

    dd = ctx.sql(f"RUN PIPELINE exact_dedup ON {tbl}")
    want_dd = sorted(map(tuple, ddp.exact_dedup(docs).collect()))
    assert sorted(map(tuple, dd.collect())) == want_dd

    # options flow through with type coercion
    zipf = ctx.sql(f"RUN PIPELINE zipf ON {tbl} OPTIONS(top_v '32')")
    want_z = tfn.zipf_fit(docs, top_v=32).collect()
    assert zipf.collect() == want_z

    pairs = ctx.sql(
        f"RUN PIPELINE near_dup_pairs ON {tbl} OPTIONS(threshold '0.5')")
    assert {c for c in pairs.columns} == {"doc_id_a", "doc_id_b", "jaccard"}

    import pytest as _pt
    from lightning_metastore_spark.parser.dispatcher import (
        CommandParseError)
    with _pt.raises(CommandParseError, match="available"):
        ctx.sql(f"RUN PIPELINE nonsense ON {tbl}")
    with _pt.raises(CommandParseError, match="bad value"):
        ctx.sql(f"RUN PIPELINE zipf ON {tbl} OPTIONS(top_v 'many')")
    # a typo'd option key surfaces as a parse error naming the op's
    # declared options, not a raw TypeError (a 500 through REST)
    with _pt.raises(CommandParseError, match="declared options.*top_v"):
        ctx.sql(f"RUN PIPELINE zipf ON {tbl} OPTIONS(topv '32')")


def test_run_pipeline_sink_materializes_table(ctx, spark, tmp_path):
    """RUN PIPELINE ... SINK writes the result through the datasource
    unit writer — the curated output is immediately queryable as a
    registered lightning table."""
    out_dir = tmp_path / "curated"
    out_dir.mkdir()
    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE tpch OPTIONS(path '{SF_DIR}') "
            f"NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE cur OPTIONS(path '{out_dir}') "
            f"NAMESPACE lightning.datasource.file")
    res = ctx.sql(
        "RUN PIPELINE lang_id ON lightning.datasource.file.tpch.documents "
        "SINK lightning.datasource.file.cur.doc_langs").collect()
    assert res[0].written.endswith("cur.doc_langs")
    back = ctx.sql("SELECT pred_lang, count(*) AS n FROM "
                   "lightning.datasource.file.cur.doc_langs "
                   "GROUP BY 1 ORDER BY 1").collect()
    assert sum(r.n for r in back) == spark.read.parquet(
        f"{SF_DIR}/documents.parquet").count()
    assert {r.pred_lang for r in back} >= {"en"}


def test_list_pipeline_ops(ctx):
    rows = ctx.sql("LIST PIPELINE OPS").collect()
    ops = {r.op for r in rows}
    assert {"exact_dedup", "quality", "zipf", "cdc_dup_stats",
            "curate"} <= ops
    z = next(r for r in rows if r.op == "zipf")
    assert "top_v (int)" in z.options


def test_run_pipeline_contamination_two_tables(ctx, spark, tmp_path):
    """Two-table pipeline op through SQL: decontamination of a corpus
    table against a REGISTERED benchmark table."""
    from lightning_metastore_spark.operators.contamination import (
        contamination_overlap)

    bench_dir = tmp_path / "benchdata"
    bench_dir.mkdir()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.filter("doc_id % 25 = 0").write.parquet(str(bench_dir / "bench"))

    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE tpch OPTIONS(path '{SF_DIR}') "
            f"NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE ev OPTIONS(path '{bench_dir}') "
            f"NAMESPACE lightning.datasource.file")
    out = ctx.sql(
        "RUN PIPELINE contamination ON lightning.datasource.file.tpch.documents "
        "OPTIONS(bench 'lightning.datasource.file.ev.bench', n '3')")
    bench_df = spark.read.parquet(str(bench_dir / "bench"))
    want = sorted(map(tuple,
                      contamination_overlap(docs, bench_df, n=3).collect()))
    assert sorted(map(tuple, out.collect())) == want
    # missing required table option is a clear error
    import pytest as _pt
    from lightning_metastore_spark.parser.dispatcher import CommandParseError
    with _pt.raises(CommandParseError, match="requires table option"):
        ctx.sql("RUN PIPELINE contamination ON "
                "lightning.datasource.file.tpch.documents")


def test_run_pipeline_asof_join(ctx, spark):
    from lightning_metastore_spark.operators.temporal import asof_join

    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE tpch OPTIONS(path '{SF_DIR}') "
            f"NAMESPACE lightning.datasource.file")
    out = ctx.sql(
        "RUN PIPELINE asof_join ON lightning.datasource.file.tpch.events "
        "OPTIONS(right 'lightning.datasource.file.tpch.events', "
        "by 'user_id')")
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    assert out.count() == events.count()
    assert any(c.endswith("_asof") for c in out.columns)


def test_resolver_file_cache_sees_writes(spark, tmp_path):
    """The resolver's file-DataFrame cache (r12 catalog_overhead fix)
    must never serve stale data: any write that touches the table path
    changes the freshness fingerprint and forces a re-resolve."""
    from lightning_metastore_spark.context import LightningContext

    src = tmp_path / "lake"
    src.mkdir()
    spark.range(5).write.parquet(str(src / "t.parquet"))
    ctx = LightningContext(spark, warehouse=str(tmp_path / "model"))
    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE c OPTIONS(path '{src}') "
            "NAMESPACE lightning.datasource.file")
    q = "SELECT count(*) AS n FROM lightning.datasource.file.c.t"
    assert ctx.sql(q).collect()[0].n == 5
    assert ctx.sql(q).collect()[0].n == 5       # cache-hit path
    spark.range(3).write.mode("append").parquet(str(src / "t.parquet"))
    assert ctx.sql(q).collect()[0].n == 8       # fingerprint busts it
    # INSERT INTO through the command layer also invalidates
    ctx.sql("INSERT INTO lightning.datasource.file.c.t SELECT 99 AS id")
    assert ctx.sql(q).collect()[0].n == 9
