"""federated_rest: the analyst path. One HTTP client, one request at a
time, against the in-process LightningAPIServer: routed SELECTs over
``lightning.datasource.file.tpch.*`` at sf0.1 (orders, customer,
nation: aggregates, point lookups, ~4k-row range scans), SELECTs over
activated USL views, ``GET /api/qdq`` fetches, REGISTER DQ posts, RUN
PIPELINE text ops over a 500-document corpus, and reads of a 12-commit
Delta table. Responses are compared with DuckDB over the same parquet
files, with the seeded Delta rows, or (pipeline ops) with invariants of
the generated corpus."""

from __future__ import annotations

import datetime
import http.client
import itertools
import json
import time
from collections import Counter

import data
from check import Stmt, compare_rows
from gen import kinds_in_order, rng_for
from harness import Workload

TABLES = ("orders", "customer", "nation")
# Reads fall in two latency clusters: point lookups, USL selects, qdq
# fetches and pipeline ops (~0.2-0.3 s) below aggregates, range scans
# and Delta reads (~0.3-0.4 s). The slower cluster holds about two thirds
# of the reads, so the medians fall well inside it and not at the gap
# between the two, where a small shift moves them a lot.
QUOTAS = {"aggregate": 12, "point_lookup": 8, "range_scan": 12,
          "usl_select": 4, "qdq_fetch": 4, "pipeline": 5, "lake_read": 12,
          "register_dq": 6}
# RUN PIPELINE text ops over /api/q (500 documents): the operators and
# functions layers' share of this workload
PIPELINE_OPS = ("quality", "lang_id", "fingerprint", "pii_redact",
                "exact_dedup")
N_DOCS = 500
# a Delta table left by another writer: 12 append commits of 500 rows,
# read through the offline log-replay reader (the `sources` layer)
LAKE = "lightning.datasource.delta.lake.events"
LAKE_COMMITS, LAKE_ROWS = 12, 500
SCAN_ROWS = 4000
USL = "lightning.metastore.bi.sales"
USL_DDL = ("create table orders_v (o_orderkey BIGINT primary key, "
           "o_custkey BIGINT, o_totalprice double, o_orderdate date); "
           "create table customers_v (c_custkey BIGINT primary key, "
           "c_name String, c_mktsegment String, c_acctbal double)")
ACTIVATIONS = {
    "orders_v": "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate "
                "FROM {orders} WHERE o_orderstatus <> 'P'",
    "customers_v": "SELECT c_custkey, c_name, c_mktsegment, c_acctbal "
                   "FROM {customer}"}
SETUP_DQ = {"pricey": "o_totalprice > 450000", "cheap": "o_totalprice < 2000"}
QDQ_LIMIT = 50


def _date(rng) -> str:
    return (data.EPOCH + datetime.timedelta(
        days=int(rng.integers(0, 2400)))).isoformat()


class FederatedRest(Workload):
    name = "federated_rest"

    def make_inputs(self):
        tables = data.tpch_tables(self.env.seed, 0.1, lineitem=False)
        self.tables = {t: tables[t] for t in TABLES}
        self.paths = data.write_tables(self.tables, self.dir("data", "tpch"))
        self.docs = data.documents(self.env.seed, N_DOCS)
        data.write_tables({"documents": self.docs}, self.dir("data", "corpus"))
        data.delta_table(self.dir("data", "lake", "events"), self.env.seed,
                         LAKE_COMMITS, LAKE_ROWS)

    def setup(self):
        super().setup()
        from lightning_metastore_spark.api import LightningAPIServer
        from lightning_metastore_spark.model.serde import DataSource

        for name in ("tpch", "corpus"):
            self.ctx.metastore.save_datasource(DataSource(
                name, ["file"], "PARQUET", {"path": self.dir("data", name)}))
        self.ctx.metastore.save_datasource(DataSource(
            "lake", ["delta"], "DELTA", {"path": self.dir("data", "lake")}))
        src = {t: f"lightning.datasource.file.tpch.{t}" for t in TABLES}
        sql = self.ctx.sql
        sql("CREATE NAMESPACE lightning.metastore.bi")
        sql(f"COMPILE USL sales DEPLOY NAMESPACE lightning.metastore.bi "
            f"DDL {USL_DDL}")
        for t, q in ACTIVATIONS.items():
            sql(f"ACTIVATE USL TABLE {USL}.{t} AS {q.format(**src)}")
        for name, expr in SETUP_DQ.items():
            sql(f"REGISTER DQ {name} TABLE {USL}.orders_v AS {expr}")
        self.server = LightningAPIServer(self.ctx).start()

    def close(self):
        server = getattr(self, "server", None)
        if server is not None:
            server.stop()
        duck = getattr(self, "duck", None)
        if duck is not None:
            duck.close()

    # -- REST client ----------------------------------------------------------

    def execute(self, st):
        conn = http.client.HTTPConnection(self.server.host, self.server.port,
                                          timeout=60)
        t0 = time.perf_counter()
        try:
            if st.via == "post":
                conn.request("POST", "/api/q",
                             json.dumps({"query": st.text}).encode(),
                             {"Content-Type": "application/json"})
            else:
                conn.request("GET", st.text)
            resp = conn.getresponse()
            ttfb_ms = (time.perf_counter() - t0) * 1000.0
            body = resp.read()
        finally:
            conn.close()
        if resp.status != 200:
            raise RuntimeError(f"HTTP {resp.status}: {body[:300]!r}")
        rows = json.loads(body)
        if rows and isinstance(rows[-1], dict) and "__error__" in rows[-1]:
            raise RuntimeError(f"error trailer: {rows[-1]['__error__']}")
        return ([tuple(r.values()) for r in rows],
                {"ttfb_ms": ttfb_ms, "bytes": len(body)})

    def warmup(self):
        rng = rng_for(self.env.seed, "federated_rest.warmup")
        # the first variant of every kind and every pipeline op once: the
        # first timed statements would otherwise pay the JVM's warm-up
        # (the first run of each op takes 2-5 s)
        quotas = {**{k: 1 for k in QUOTAS}, "pipeline": len(PIPELINE_OPS)}
        for st in self._generate(rng, quotas, "warm", oracle=None):
            self.execute(st)

    # -- statements ---------------------------------------------------------

    def statements(self):
        import duckdb

        self.duck = con = duckdb.connect()
        for t, p in self.paths.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{p}')")
        for t, q in ACTIVATIONS.items():
            con.execute(f"CREATE VIEW {t} AS "
                        + q.format(orders="orders", customer="customer"))
        rng = rng_for(self.env.seed, "federated_rest")
        return self._generate(rng, QUOTAS, "dq", oracle=con)

    def _generate(self, rng, quotas, prefix, oracle):
        """Statements in a seeded order; the ``oracle`` DuckDB connection
        gives each one's expected rows. Without an oracle nothing is
        checked (the warm-up)."""
        def expect(duck_sql):
            if oracle is None:
                return lambda rows: None
            return oracle.execute(duck_sql).fetchall()

        src = {t: f"lightning.datasource.file.tpch.{t}" for t in TABLES}
        n_ord = self.tables["orders"].num_rows
        n_cust = self.tables["customer"].num_rows
        dqs = dict(SETUP_DQ)
        ops = itertools.cycle(PIPELINE_OPS)
        # the j-th statement of a kind takes variant j mod (its variant
        # count), so every seed runs the same mix of query shapes
        seen = Counter()
        out = []
        for i, kind in enumerate(kinds_in_order(rng, quotas)):
            j = seen[kind]
            seen[kind] += 1
            if kind == "aggregate":
                q = self._aggregate(rng, j % 4)
                st = Stmt(kind, q.format(**src), False,
                          expect(q.format(**{t: t for t in TABLES})), "post")
            elif kind == "point_lookup":
                if j % 2 == 0:
                    q = ("SELECT * FROM {orders} WHERE o_orderkey = "
                         f"{int(rng.integers(1, n_ord + 1))}")
                else:
                    q = ("SELECT c_custkey, c_name, c_acctbal FROM {customer} "
                         f"WHERE c_custkey = {int(rng.integers(1, n_cust + 1))}")
                st = Stmt(kind, q.format(**src), False,
                          expect(q.format(**{t: t for t in TABLES})), "post")
            elif kind == "range_scan":
                lo = int(rng.integers(1, n_ord - SCAN_ROWS))
                q = ("SELECT o_orderkey, o_custkey, o_orderstatus, "
                     "o_totalprice, o_orderdate, o_comment FROM {orders} "
                     f"WHERE o_orderkey BETWEEN {lo} AND {lo + SCAN_ROWS - 1}")
                st = Stmt(kind, q.format(**src), False,
                          expect(q.format(**{t: t for t in TABLES})), "post")
            elif kind == "usl_select":
                if j % 2 == 0:
                    q = ("SELECT count(*) AS n, sum(o_totalprice) AS s FROM "
                         "{v}.orders_v WHERE o_orderdate >= DATE "
                         f"'{_date(rng)}'")
                else:
                    lo = int(rng.integers(1, n_cust - 50))
                    q = ("SELECT * FROM {v}.customers_v WHERE c_custkey "
                         f"BETWEEN {lo} AND {lo + 49}")
                st = Stmt(kind, q.format(v=USL), False,
                          expect(q.format(v="main")), "post")
            elif kind == "qdq_fetch":
                name = sorted(dqs)[int(rng.integers(len(dqs)))]
                valid = j % 4 != 3
                path = (f"/api/qdq?name={name}&table={USL}.orders_v&validity="
                        f"{'valid' if valid else 'invalid'}&limit={QDQ_LIMIT}")
                cond = dqs[name] if valid else f"NOT ({dqs[name]})"
                st = Stmt(kind, path, False, _qdq_check(oracle, cond), "get")
            elif kind == "lake_read":
                q, rows = _lake_read(rng, self.env.seed, j % 3)
                st = Stmt(kind, q, False, rows if oracle
                          else (lambda got: None), "post")
            elif kind == "pipeline":
                op = next(ops)
                st = Stmt(kind, f"RUN PIPELINE {op} ON "
                          "lightning.datasource.file.corpus.documents", False,
                          _pipeline_check(op, self.docs) if oracle
                          else (lambda rows: None), "post")
            else:
                name = f"{prefix}{i}"
                expr = f"o_totalprice > {int(rng.integers(1000, 499000))}"
                dqs[name] = expr
                st = Stmt(kind, f"REGISTER DQ {name} TABLE {USL}.orders_v "
                          f"AS {expr}", True,
                          [(name, "metastore.bi.sales.orders_v")]
                          if oracle else (lambda rows: None), "post")
            out.append(st)
        return out

    @staticmethod
    def _aggregate(rng, which: int) -> str:
        if which == 0:
            d = _date(rng)
            return ("SELECT n.n_name, count(*) AS n FROM {orders} o JOIN "
                    "{customer} c ON o.o_custkey = c.c_custkey JOIN {nation} n "
                    "ON c.c_nationkey = n.n_nationkey WHERE o.o_orderdate "
                    f"BETWEEN DATE '{d}' AND DATE '{d}' + INTERVAL 30 DAY "
                    "GROUP BY n.n_name")
        if which == 1:
            return ("SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) "
                    "AS s FROM {orders} WHERE o_orderdate >= DATE "
                    f"'{_date(rng)}' GROUP BY o_orderstatus")
        if which == 2:
            lo = int(rng.integers(800, 400_000))
            return ("SELECT o_orderpriority, count(*) AS n, "
                    "max(o_orderdate) AS last FROM {orders} WHERE "
                    f"o_totalprice BETWEEN {lo} AND {lo + 50_000} "
                    "GROUP BY o_orderpriority")
        return ("SELECT c_mktsegment, count(*) AS n, avg(c_acctbal) AS a "
                "FROM {customer} WHERE c_nationkey = "
                f"{int(rng.integers(25))} GROUP BY c_mktsegment")


def _lake_read(rng, seed: int, which: int) -> tuple[str, list]:
    """A Delta read and its expected (count, sum) from the seeded rows:
    the whole table (``which`` 0), an id range its file statistics can
    skip to (1), or an older version (2)."""
    n = LAKE_COMMITS * LAKE_ROWS
    if which == 0:
        lo, hi = 0, n - 1
        q = f"SELECT count(*) AS n, sum(amount) AS s FROM {LAKE}"
    elif which == 1:
        lo = int(rng.integers(0, n - 300))
        hi = lo + 299
        q = (f"SELECT count(*) AS n, sum(amount) AS s FROM {LAKE} "
             f"WHERE id BETWEEN {lo} AND {hi}")
    else:
        v = int(rng.integers(LAKE_COMMITS - 1))
        lo, hi = 0, (v + 1) * LAKE_ROWS - 1
        q = (f"SELECT count(*) AS n, sum(amount) AS s FROM {LAKE} "
             f"VERSION AS OF {v}")
    amounts = [data.lake_row(i, seed)[1] for i in range(lo, hi + 1)]
    return q, [(len(amounts), sum(amounts))]


def _qdq_check(con, cond):
    """/api/qdq returns up to QDQ_LIMIT rows of an unordered filter: the
    count must be min(limit, matches) and every row must be a matching
    row of the view, unchanged."""
    if con is None:
        return lambda rows: None
    n_match = con.execute(
        f"SELECT count(*) FROM orders_v WHERE {cond}").fetchone()[0]

    def check(rows):
        want = min(QDQ_LIMIT, n_match)
        if len(rows) != want:
            return f"{len(rows)} rows, expected {want}"
        keys = sorted({int(r[0]) for r in rows})
        if len(keys) != len(rows):
            return "duplicate keys"
        found = con.execute(
            f"SELECT * FROM orders_v WHERE ({cond}) AND o_orderkey IN "
            f"({', '.join(map(str, keys)) or 'NULL'})").fetchall()
        return compare_rows(rows, found)
    return check


def _pipeline_check(op, docs):
    """Invariants of the text ops over the generated corpus."""
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    n_chars = dict(zip(ids, docs.column("n_chars").to_pylist()))

    def check(rows):
        if op == "exact_dedup":
            if len(rows) != len(set(texts)):
                return f"{len(rows)} rows, expected {len(set(texts))} texts"
            if sum(r[1] for r in rows) != len(ids):
                return "dup_count does not add up to the corpus size"
            return None
        if sorted(r[0] for r in rows) != ids:
            return f"{len(rows)} rows do not cover the {len(ids)} doc ids"
        if op == "quality":
            bad = [r for r in rows if r[1] != n_chars[r[0]]
                   or not 0.0 <= r[-1] <= 1.0]
            return f"bad quality row {bad[0]!r}" if bad else None
        if op == "fingerprint":
            by_text = {}
            for r in rows:
                by_text.setdefault(texts[r[0]], set()).add(r[1])
            if any(len(v) != 1 for v in by_text.values()) or len(
                    {r[1] for r in rows}) != len(by_text):
                return "fingerprints do not match text equality"
            return None
        if op == "pii_redact":
            leaks = [r for r in rows if "@example.com" in r[1]]
            return f"PII left in doc {leaks[0][0]}" if leaks else None
        return None
    return check
