"""REST API tests (EP3): POST /api/q streaming JSON + DQ record
endpoints, driven over real HTTP."""

from __future__ import annotations

import json
import sys
import urllib.request

import pytest

sys.path.insert(0, "/root/repo")

from lightning_metastore_spark.api import LightningAPIServer  # noqa: E402
from lightning_metastore_spark.context import LightningContext  # noqa: E402

from tests.conftest import SF_DIR  # noqa: E402


@pytest.fixture()
def server(spark, tmp_path):
    ctx = LightningContext(spark, warehouse=str(tmp_path / "model"))
    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE tpch OPTIONS(path '{SF_DIR}') "
            f"NAMESPACE lightning.datasource.file")
    srv = LightningAPIServer(ctx).start()
    yield srv
    srv.stop()


def _post_q(srv, query):
    req = urllib.request.Request(
        f"http://{srv.host}:{srv.port}/api/q",
        data=json.dumps({"query": query}).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read())


def test_api_query(server):
    status, rows = _post_q(server, """
        SELECT o_orderpriority, count(*) AS n
        FROM lightning.datasource.file.tpch.orders
        GROUP BY 1 ORDER BY 1""")
    assert status == 200 and len(rows) == 5
    assert rows[0]["o_orderpriority"] == "1-URGENT" and rows[0]["n"] > 0


def test_api_encodes_timestamps_and_binaries(server):
    status, rows = _post_q(server, """
        SELECT o_orderdate, CAST('ab' AS BINARY) AS b
        FROM lightning.datasource.file.tpch.orders LIMIT 1""")
    assert status == 200
    assert rows[0]["o_orderdate"].startswith(("199", "200"))
    assert rows[0]["b"] == "YWI="  # base64


def test_api_ddl_roundtrip(server):
    status, _ = _post_q(
        server, "SHOW NAMESPACES OR TABLES IN lightning.datasource.file")
    assert status == 200


def test_api_edq_full_export(server):
    """/api/edq streams the full (unlimited) DQ record set."""
    _post_q(server, "CREATE NAMESPACE lightning.metastore.apicrm")
    _post_q(server, "COMPILE USL m DEPLOY NAMESPACE lightning.metastore.apicrm "
                    "DDL create table o (o_orderkey BIGINT primary key, "
                    "o_totalprice double)")
    _post_q(server, "ACTIVATE USL TABLE lightning.metastore.apicrm.m.o AS "
                    "SELECT o_orderkey, o_totalprice FROM "
                    "lightning.datasource.file.tpch.orders")
    _post_q(server, "REGISTER DQ cheap TABLE lightning.metastore.apicrm.m.o "
                    "AS o_totalprice < 5000")
    url = (f"http://{server.host}:{server.port}/api/edq"
           f"?name=cheap&table=lightning.metastore.apicrm.m.o&validity=valid")
    with urllib.request.urlopen(url) as resp:
        rows = json.loads(resp.read())
    assert len(rows) > 0
    assert all(r["o_totalprice"] < 5000 for r in rows)


def test_api_errors(server):
    req = urllib.request.Request(
        f"http://{server.host}:{server.port}/api/q",
        data=json.dumps({"query": "SELECT * FROM missing_table"}).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req)
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e2:
        urllib.request.urlopen(
            f"http://{server.host}:{server.port}/api/nope")
    assert e2.value.code == 404


@pytest.fixture()
def guarded_server(spark, tmp_path):
    """Server with row cap + query timeout enabled."""
    ctx = LightningContext(spark, warehouse=str(tmp_path / "model_guard"))
    srv = LightningAPIServer(ctx, max_rows=5, query_timeout_sec=1.5).start()
    yield srv
    srv.stop()


def test_api_content_type_negotiation(server):
    # wrong request body type -> 415
    req = urllib.request.Request(
        f"http://{server.host}:{server.port}/api/q",
        data=b"<q>select 1</q>",
        headers={"Content-Type": "text/xml"}, method="POST")
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req)
    assert e.value.code == 415
    # unproducible Accept -> 406
    req = urllib.request.Request(
        f"http://{server.host}:{server.port}/api/q",
        data=json.dumps({"query": "SELECT 1 AS x"}).encode(),
        headers={"Content-Type": "application/json",
                 "Accept": "text/csv"}, method="POST")
    with pytest.raises(urllib.error.HTTPError) as e2:
        urllib.request.urlopen(req)
    assert e2.value.code == 406


def test_api_ndjson_stream(server):
    req = urllib.request.Request(
        f"http://{server.host}:{server.port}/api/q",
        data=json.dumps({"query": "SELECT id FROM range(3)"}).encode(),
        headers={"Content-Type": "application/json",
                 "Accept": "application/x-ndjson"}, method="POST")
    with urllib.request.urlopen(req) as resp:
        assert resp.headers["Content-Type"] == "application/x-ndjson"
        lines = [json.loads(l) for l in resp.read().splitlines() if l]
    assert lines == [{"id": 0}, {"id": 1}, {"id": 2}]


def test_api_max_rows_cap(guarded_server):
    status, rows = _post_q(guarded_server, "SELECT id FROM range(1000)")
    assert status == 200 and len(rows) == 5


def test_api_local_results_run_no_job(spark, server, monkeypatch):
    """Command results over REST are LocalRelations: collected on the
    driver without a Spark job, with the same JSON bodies, and capped
    by slicing; any other plan still streams under a CollectLimit."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def jobs_without_group():
        bus.waitUntilEmpty()  # job events reach the tracker asynchronously
        return set(sc.statusTracker().getJobIdsForGroup(None))

    tables = ["customer", "documents", "embeddings", "events", "lineitem",
              "nation", "orders", "part", "region", "supplier"]
    before = jobs_without_group()
    assert _post_q(server, f"REGISTER PARQUET DATASOURCE nums "
                           f"OPTIONS(path '{SF_DIR}') "
                           f"NAMESPACE lightning.datasource.file") == (
        200, [{"registered": "lightning.datasource.file.nums"}])
    assert _post_q(server, "SHOW TABLES IN lightning.datasource.file.nums") \
        == (200, [{"tableName": t} for t in tables])
    assert jobs_without_group() == before

    plans = []
    to_local_iterator = type(spark.range(1)).toLocalIterator

    def recording(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return to_local_iterator(df, *args, **kwargs)

    monkeypatch.setattr(type(spark.range(1)), "toLocalIterator", recording)
    capped = LightningAPIServer(server.ctx, max_rows=5).start()
    try:
        shown = _post_q(capped, "SHOW TABLES IN lightning.datasource.file.tpch")
        assert shown == (200, [{"tableName": t} for t in tables[:5]])
        assert plans == []
        assert _post_q(capped, "SELECT id FROM range(1000)") == (
            200, [{"id": i} for i in range(5)])
    finally:
        capped.stop()
    assert len(plans) == 1 and "CollectLimit 5" in plans[0]


def test_api_query_timeout_408(guarded_server):
    """A runaway query is cancelled via its job group: clean 408 before
    any rows are sent."""
    req = urllib.request.Request(
        f"http://{guarded_server.host}:{guarded_server.port}/api/q",
        data=json.dumps({"query": """
            SELECT count(id) AS n
            FROM range(0, 200000000000, 1, 400)"""}).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req, timeout=60)
    assert e.value.code == 408


def test_api_midstream_error_trailer(server):
    """A failure AFTER rows are on the wire must close the payload as
    well-formed JSON whose last element is an {__error__} trailer, not a
    truncated body. range(0,1000,1,4) partitions are pulled in order by
    toLocalIterator: partition 0 (ids 0-249) streams fine, partition 1
    hits assert_true(id < 250)."""
    req = urllib.request.Request(
        f"http://{server.host}:{server.port}/api/q",
        data=json.dumps({"query": """
            SELECT id, assert_true(id < 250) AS ok
            FROM range(0, 1000, 1, 4)"""}).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with urllib.request.urlopen(req) as resp:
        status, body = resp.status, resp.read()
    assert status == 200
    rows = json.loads(body)  # must parse — well-formed despite failure
    assert rows and "__error__" in rows[-1]
    assert [r["id"] for r in rows[:-1]] == list(range(250))


def test_api_runtime_error_clean_400(server):
    """A query that passes analysis but fails at execution must yield a
    clean 400: the server pulls the first row BEFORE sending the status
    line, so lazy-evaluation failures don't corrupt a 200 reply."""
    req = urllib.request.Request(
        f"http://{server.host}:{server.port}/api/q",
        data=json.dumps({"query": """
            SELECT assert_true(o_orderkey < 0) AS x
            FROM lightning.datasource.file.tpch.orders"""}).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req)
    assert e.value.code == 400


def test_api_run_pipeline(server):
    """The pipeline operator surface is reachable over HTTP — a
    reference-style REST client can run dedup/quality ops by SQL."""
    status, rows = _post_q(
        server, "RUN PIPELINE lang_id ON "
                "lightning.datasource.file.tpch.documents")
    assert status == 200 and len(rows) > 0
    assert {"doc_id", "pred_lang"} <= set(rows[0].keys())
    langs = {r["pred_lang"] for r in rows}
    assert "en" in langs


def test_api_run_pipeline_bad_option_clean_400(server):
    """A typo'd RUN PIPELINE option must surface as a clean 400 naming
    the declared options — never a raw TypeError 500."""
    req = urllib.request.Request(
        f"http://{server.host}:{server.port}/api/q",
        data=json.dumps({
            "query": "RUN PIPELINE zipf ON "
                     "lightning.datasource.file.tpch.documents "
                     "OPTIONS(topv '32')"}).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req)
    assert e.value.code == 400
    body = e.value.read().decode()
    assert "declared options" in body and "top_v" in body


def test_api_pipeline_options_sweep_every_op(server):
    """Option-coercion contract for the WHOLE RUN PIPELINE surface over
    REST: for every op returned by LIST PIPELINE OPS, a bogus OPTIONS
    key must come back as a clean 400 whose body names the op's
    declared option names (signature-validated before execution) —
    never a raw 500. Ops that require a second TABLE option fail the
    table-requirement check first; their 400 names those instead."""
    status, ops = _post_q(server, "LIST PIPELINE OPS")
    assert status == 200 and len(ops) >= 60

    for row in ops:
        op = row["op"]
        declared = [p.split(" ")[0]
                    for p in row["options"].split(", ") if p]
        req = urllib.request.Request(
            f"http://{server.host}:{server.port}/api/q",
            data=json.dumps({
                "query": f"RUN PIPELINE {op} ON "
                         "lightning.datasource.file.tpch.documents "
                         "OPTIONS(not_an_option 'x')"}).encode(),
            headers={"Content-Type": "application/json"}, method="POST")
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req)
        assert e.value.code == 400, op
        body = e.value.read().decode()
        if "requires table option" in body:
            continue    # two-table op: the earlier typed check fired
        assert "declared options" in body, (op, body[:200])
        for name in declared:
            assert name in body, (op, name, body[:300])


def test_api_concurrent_clients(spark, tmp_path):
    """Four client threads share one server: routed SELECTs over two
    sources (and a join across them), a USL select, and REGISTER OR
    REPLACE of a third datasource that the other threads read while
    it is replaced. Every response must match its known count."""
    import threading

    nums = tmp_path / "nums"
    spark.range(0, 30).selectExpr("id", "id % 3 AS g") \
        .write.parquet(str(nums / "nums.parquet"))
    ctx = LightningContext(spark, warehouse=str(tmp_path / "model"))
    ns = "NAMESPACE lightning.datasource.file"
    ctx.sql("CREATE NAMESPACE lightning.datasource.file")
    ctx.sql(f"REGISTER PARQUET DATASOURCE tpch OPTIONS(path '{SF_DIR}') {ns}")
    ctx.sql(f"REGISTER PARQUET DATASOURCE nums OPTIONS(path '{nums}') {ns}")
    register_third = (f"REGISTER OR REPLACE PARQUET DATASOURCE third "
                      f"OPTIONS(path '{nums}') {ns}")
    ctx.sql(register_third)
    ctx.sql("CREATE NAMESPACE lightning.metastore.cc")
    ctx.sql("COMPILE USL m DEPLOY NAMESPACE lightning.metastore.cc "
            "DDL create table o (o_orderkey BIGINT primary key, "
            "o_totalprice double)")
    ctx.sql("ACTIVATE USL TABLE lightning.metastore.cc.m.o AS "
            "SELECT o_orderkey, o_totalprice FROM "
            "lightning.datasource.file.tpch.orders")

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    joined = spark.read.parquet(f"{SF_DIR}/customer.parquet") \
        .where("c_custkey < 30").count()
    src = "lightning.datasource.file"
    expected = {
        f"SELECT count(*) AS n FROM {src}.tpch.orders": orders,
        f"SELECT count(*) AS n FROM {src}.tpch.customer c "
        f"JOIN {src}.nums.nums x ON c.c_custkey = x.id": joined,
        "SELECT count(*) AS n FROM lightning.metastore.cc.m.o": orders,
        f"SELECT count(*) AS n FROM {src}.third.nums": 30,
        register_third: None,
    }
    stmts = list(expected)
    srv = LightningAPIServer(ctx).start()
    start = threading.Barrier(4)
    got, errors = [], []

    def client(k):
        start.wait()
        for i in range(2 * len(stmts)):
            q = stmts[(k + i) % len(stmts)]
            try:
                got.append((q, _post_q(srv, q)))
            except Exception as e:  # noqa: BLE001 — reported below
                errors.append((q, repr(e)))

    threads = [threading.Thread(target=client, args=(k,)) for k in range(4)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)  # interleave the threads more finely
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
        srv.stop()
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(got) == 4 * 2 * len(stmts)
    for q, (status, rows) in got:
        assert status == 200, q
        if expected[q] is None:
            assert len(rows) == 1, q
        else:
            assert rows == [{"n": expected[q]}], q
