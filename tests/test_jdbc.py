"""JDBC datasource tests using embedded Derby (the jars ship with
Spark) — the analogue of the reference's H2-based
RegisterJDBCDataSourceSuite (H2TestBase.createH2SimpleTable:55-82)."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from lightning_metastore_spark.context import LightningContext  # noqa: E402

from tests.conftest import SF_DIR  # noqa: E402


@pytest.fixture()
def derby_url(spark, tmp_path):
    """Create the reference's test_users/test_jobs fixture in an
    embedded Derby database via the JVM's DriverManager."""
    db = str(tmp_path / "derbydb")
    url = f"jdbc:derby:{db};create=true"
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute("CREATE TABLE test_users (uid INT PRIMARY KEY, jid INT)")
    st.execute("CREATE TABLE test_jobs (jid INT PRIMARY KEY, name CHAR(10))")
    for i in range(1, 6):
        st.execute(f"INSERT INTO test_users VALUES ({i}, {i})")
        st.execute(f"INSERT INTO test_jobs VALUES ({i}, 'job{i}')")
    st.close()
    conn.close()
    return f"jdbc:derby:{db}"


@pytest.fixture()
def ctx(spark, tmp_path):
    return LightningContext(spark, warehouse=str(tmp_path / "model"))


def test_register_jdbc_and_query(ctx, derby_url):
    ctx.sql("CREATE NAMESPACE lightning.datasource.rdbms")
    ctx.sql(f"REGISTER JDBC DATASOURCE derbydb "
            f"OPTIONS(url '{derby_url}', "
            f"driver 'org.apache.derby.iapi.jdbc.AutoloadedDriver') "
            f"NAMESPACE lightning.datasource.rdbms")
    rows = ctx.sql("""
        SELECT u.uid, j.name
        FROM lightning.datasource.rdbms.derbydb.test_users u
        JOIN lightning.datasource.rdbms.derbydb.test_jobs j ON u.jid = j.jid
        ORDER BY u.uid
    """).collect()
    assert len(rows) == 5
    assert rows[0].uid == 1 and rows[0].name.strip() == "job1"


def test_jdbc_federated_with_parquet(ctx, derby_url):
    """Federation across JDBC and parquet sources in one query — the
    reference's core value proposition (data_virtulization.md)."""
    ctx.sql("CREATE NAMESPACE lightning.datasource.rdbms")
    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER JDBC DATASOURCE derbydb OPTIONS(url '{derby_url}') "
            f"NAMESPACE lightning.datasource.rdbms")
    ctx.sql(f"REGISTER PARQUET DATASOURCE tpch OPTIONS(path '{SF_DIR}') "
            f"NAMESPACE lightning.datasource.file")
    rows = ctx.sql("""
        SELECT u.uid, r.r_name
        FROM lightning.datasource.rdbms.derbydb.test_users u
        JOIN lightning.datasource.file.tpch.region r
          ON u.uid - 1 = r.r_regionkey
        ORDER BY u.uid
    """).collect()
    assert len(rows) == 5
    assert rows[0].r_name == "AFRICA"


def test_jdbc_predicate_pushdown(ctx, derby_url):
    """Filters must push into the JDBC scan (Spark DSv2 handles it —
    verify PushedFilters appears in the plan)."""
    ctx.sql("CREATE NAMESPACE lightning.datasource.rdbms")
    ctx.sql(f"REGISTER JDBC DATASOURCE derbydb OPTIONS(url '{derby_url}') "
            f"NAMESPACE lightning.datasource.rdbms")
    df = ctx.sql("SELECT uid FROM lightning.datasource.rdbms.derbydb.test_users "
                 "WHERE uid > 3")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(UID,3)" in plan
    assert {r.uid for r in df.collect()} == {4, 5}


def test_register_catalog_from_jdbc(ctx, derby_url):
    """REGISTER CATALOG snapshots JDBC table schemas into the metastore
    (RegisterCatalogTestSuite analogue, Derby SYS-catalog listing)."""
    ctx.sql("CREATE NAMESPACE lightning.datasource.rdbms")
    ctx.sql(f"REGISTER JDBC DATASOURCE derbydb OPTIONS(url '{derby_url}') "
            f"NAMESPACE lightning.datasource.rdbms")
    ctx.sql("CREATE NAMESPACE lightning.metastore.jsnap")
    regs = ctx.sql("REGISTER CATALOG dsnap "
                   "SOURCE lightning.datasource.rdbms.derbydb "
                   "NAME LIKE 'TEST%' "
                   "NAMESPACE lightning.metastore.jsnap").collect()
    assert len(regs) == 2
    n = ctx.sql("SELECT count(*) AS c FROM "
                "lightning.metastore.jsnap.dsnap.TEST_USERS").collect()[0].c
    assert n == 5


def test_create_table_spec_echo(ctx):
    """Standalone CREATE TABLE echoes the parsed spec as JSON
    (reference standalone behavior)."""
    import json as _json

    out = ctx.sql("""@DataQuality(name=q1, expression=id > 0)
        create table widgets (id BIGINT primary key, name String not null)
        NAMESPACE lightning.metastore.specs""").collect()
    spec = _json.loads(out[0].json)
    assert spec["name"] == "widgets"
    assert spec["columns"][0]["primaryKey"] is True
    assert spec["annotations"][0]["name"] == "DataQuality"


def test_single_source_join_pushdown(ctx, derby_url):
    """A join touching only one JDBC source executes AT the source as
    dbtable=(query) — ONE JDBC scan, no Spark-side join (the federation
    optimization the reference lacks, SURVEY §4). Opt-in because the
    remote dialect controls identifier casing."""
    from lightning_metastore_spark.context import LightningContext

    ctx.sql("CREATE NAMESPACE lightning.datasource.rdbms")
    ctx.sql(f"REGISTER JDBC DATASOURCE derbydb OPTIONS(url '{derby_url}') "
            f"NAMESPACE lightning.datasource.rdbms")
    ctx = LightningContext(ctx.spark, warehouse=str(ctx.metastore.warehouse),
                           jdbc_pushdown=True)
    df = ctx.sql("""
        SELECT u.uid, j.name
        FROM lightning.datasource.rdbms.derbydb.test_users u
        JOIN lightning.datasource.rdbms.derbydb.test_jobs j ON u.jid = j.jid
        WHERE u.uid <= 3
        ORDER BY u.uid
    """)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan JDBCRelation") == 1  # whole query shipped
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    rows = df.collect()
    assert [(r.UID, r.NAME.strip()) for r in rows] == [
        (1, "job1"), (2, "job2"), (3, "job3")]


def test_pushdown_disabled_federates_in_spark(ctx, derby_url):
    ctx.sql("CREATE NAMESPACE lightning.datasource.rdbms")
    ctx.sql(f"REGISTER JDBC DATASOURCE derbydb OPTIONS(url '{derby_url}') "
            f"NAMESPACE lightning.datasource.rdbms")
    df = ctx.sql("""
        SELECT count(*) AS n
        FROM lightning.datasource.rdbms.derbydb.test_users u
        JOIN lightning.datasource.rdbms.derbydb.test_jobs j ON u.jid = j.jid
    """)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan JDBCRelation") == 2  # two scans, Spark joins
    assert df.collect()[0].n == 5


def test_pushdown_skipped_for_cross_source(ctx, derby_url):
    """Queries spanning JDBC + parquet must keep federating in Spark
    even with pushdown enabled."""
    from lightning_metastore_spark.context import LightningContext

    ctx.sql("CREATE NAMESPACE lightning.datasource.rdbms")
    ctx.sql(f"REGISTER JDBC DATASOURCE derbydb OPTIONS(url '{derby_url}') "
            f"NAMESPACE lightning.datasource.rdbms")
    ctx = LightningContext(ctx.spark, warehouse=str(ctx.metastore.warehouse),
                           jdbc_pushdown=True)
    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE tpch OPTIONS(path '{SF_DIR}') "
            f"NAMESPACE lightning.datasource.file")
    df = ctx.sql("""
        SELECT count(*) AS n
        FROM lightning.datasource.rdbms.derbydb.test_users u
        JOIN lightning.datasource.file.tpch.region r ON u.uid - 1 = r.r_regionkey
    """)
    assert df.collect()[0].n == 5


def test_pushdown_only_for_top_level_queries(ctx, derby_url, spark,
                                             tmp_path):
    """Pushdown ships top-level queries only: a CTAS over a JDBC source
    keeps Spark's column names and types whether pushdown is on or off
    (the pushed query would come back in Derby's upper case)."""
    sink = tmp_path / "sink"
    sink.mkdir()
    ctx.sql("CREATE NAMESPACE lightning.datasource.rdbms")
    ctx.sql(f"REGISTER JDBC DATASOURCE derbydb OPTIONS(url '{derby_url}') "
            f"NAMESPACE lightning.datasource.rdbms")
    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE sink OPTIONS(path '{sink}') "
            f"NAMESPACE lightning.datasource.file")
    pushed = LightningContext(spark, warehouse=str(ctx.metastore.warehouse),
                              jdbc_pushdown=True)
    src = "lightning.datasource.rdbms.derbydb.test_users"
    schemas = []
    for name, c in (("plain", ctx), ("pushed", pushed)):
        c.sql(f"CREATE TABLE lightning.datasource.file.sink.{name} AS "
              f"SELECT uid, jid * 2 AS j2 FROM {src} WHERE uid <= 3")
        df = ctx.sql(f"SELECT * FROM lightning.datasource.file.sink.{name}")
        schemas.append(df.schema)
        assert sorted(tuple(r) for r in df.collect()) == [
            (1, 2), (2, 4), (3, 6)]
    assert schemas[0] == schemas[1]
    assert schemas[0].fieldNames() == ["uid", "j2"]


def test_jdbc_write(ctx, derby_url, spark):
    from lightning_metastore_spark.catalog.units import load_catalog_unit

    ctx.sql("CREATE NAMESPACE lightning.datasource.rdbms")
    ctx.sql(f"REGISTER JDBC DATASOURCE derbydb OPTIONS(url '{derby_url}') "
            f"NAMESPACE lightning.datasource.rdbms")
    ds = ctx.metastore.load_datasource(["rdbms"], "derbydb")
    unit = load_catalog_unit(ds)
    new = spark.createDataFrame([(10, 10)], ["uid", "jid"])
    unit.write_table(new, ["test_users"], mode="append")
    n = ctx.sql("SELECT count(*) AS c FROM "
                "lightning.datasource.rdbms.derbydb.test_users").collect()[0].c
    assert n == 6


def test_jdbc_list_tables_hostile_schema(ctx, derby_url):
    """Schema filter is a Spark Column predicate, never SQL-interpolated:
    a quote-bearing schema name must yield an empty listing, not a
    syntax error / injection."""
    from lightning_metastore_spark.catalog.units import load_catalog_unit
    ctx.sql("CREATE NAMESPACE lightning.datasource.rdbms")
    ctx.sql(f"REGISTER JDBC DATASOURCE derbydb "
            f"OPTIONS(url '{derby_url}', "
            f"driver 'org.apache.derby.iapi.jdbc.AutoloadedDriver') "
            f"NAMESPACE lightning.datasource.rdbms")
    unit = load_catalog_unit(ctx.metastore.load_datasource(["rdbms"], "derbydb"))
    spark = ctx.spark
    # normal listing still works (Derby default schema is APP)
    tables = unit.list_tables(spark, ["APP"])
    assert "TEST_USERS" in tables and "TEST_JOBS" in tables
    hostile = "x'; DROP TABLE test_users; --"
    assert unit.list_tables(spark, [hostile]) == []
    # and the table survived
    assert unit.load_table(spark, ["test_users"]).count() == 5


def test_snapshot_stats_drive_broadcast_join(ctx, derby_url, spark):
    """Constraint-derived statistics reach Catalyst (the docs-only
    claim at lightning-commands.md:28-33, implemented): REGISTER
    CATALOG analyzes each table (row count persisted on the snapshot);
    loading the snapshot then hints broadcast when count x row-width is
    under autoBroadcastJoinThreshold. Without the stats, Spark prices
    the JDBC relation at defaultSizeInBytes (huge) and plans a
    sort-merge join; with them, the same join broadcasts."""
    ctx.sql("CREATE NAMESPACE lightning.datasource.rdbms")
    ctx.sql(f"REGISTER JDBC DATASOURCE derbydb "
            f"OPTIONS(url '{derby_url}', "
            f"driver 'org.apache.derby.iapi.jdbc.AutoloadedDriver') "
            f"NAMESPACE lightning.datasource.rdbms")
    ctx.sql("CREATE NAMESPACE lightning.metastore.snap")
    ctx.sql("REGISTER CATALOG jd SOURCE lightning.datasource.rdbms.derbydb "
            "NAMESPACE lightning.metastore.snap")
    t = ctx.metastore.load_table(["snap", "jd"], "test_users")
    assert t is not None and t.row_count == 5

    # the fact side must be priced ABOVE the session's 64m broadcast
    # threshold or Spark broadcasts it instead (range stats are exact):
    # 20M rows ≈ 305 MiB estimated. Plan-only test — nothing executes.
    big = spark.range(20_000_000).selectExpr(
        "CAST(id % 5 + 1 AS INT) AS uid",
        "repeat('x', 40) AS payload")
    big.createOrReplaceTempView("fact_rows")

    def plan(sql: str) -> str:
        df = ctx.sql(sql)
        return df._jdf.queryExecution().executedPlan().toString()

    with_stats = plan("""
        SELECT f.uid, COUNT(*) AS n
        FROM fact_rows f
        JOIN lightning.metastore.snap.jd.test_users u ON f.uid = u.uid
        GROUP BY f.uid""")
    assert "BroadcastHashJoin" in with_stats, with_stats
    without_stats = plan("""
        SELECT f.uid, COUNT(*) AS n
        FROM fact_rows f
        JOIN lightning.datasource.rdbms.derbydb.test_users u ON f.uid = u.uid
        GROUP BY f.uid""")
    assert "SortMergeJoin" in without_stats, without_stats


def test_register_catalog_analyze_false_skips_count(ctx, derby_url):
    ctx.sql("CREATE NAMESPACE lightning.datasource.rdbms")
    ctx.sql(f"REGISTER JDBC DATASOURCE derbydb "
            f"OPTIONS(url '{derby_url}', "
            f"driver 'org.apache.derby.iapi.jdbc.AutoloadedDriver') "
            f"NAMESPACE lightning.datasource.rdbms")
    ctx.sql("CREATE NAMESPACE lightning.metastore.snap2")
    ctx.sql("REGISTER CATALOG jd OPTIONS(analyze 'false') "
            "SOURCE lightning.datasource.rdbms.derbydb "
            "NAMESPACE lightning.metastore.snap2")
    t = ctx.metastore.load_table(["snap2", "jd"], "test_users")
    assert t is not None and t.row_count is None
