"""Seeded benchmark inputs: TPC-H-shaped tables and a document corpus.

Every table is a pure function of ``(seed, scale)``; the same seed
writes byte-identical parquet files. Row counts follow TPC-H's per-sf
cardinalities (orders = 1.5M x sf, about four lineitems per order), so
``sf=0.01`` and ``sf=0.1`` give the data sizes the workloads name.
"""

from __future__ import annotations

import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime.date(1992, 1, 1)
_N_DAYS = 2400

WORDS = ("batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table "
         "stream merge data join index plan cache shard node disk page "
         "log commit read write file schema type null float string date "
         "lake delta snapshot version metric trace layer token model").split()
LANGS = ("en", "de", "fr", "es", "zh")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

# parquet column types -> Spark's DataType.simpleString (DESCRIBE output)
SPARK_TYPE = {pa.int64(): "bigint", pa.int32(): "int", pa.float64(): "double",
              pa.string(): "string", pa.date32(): "date"}


def _words(rng, n_rows: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, n_rows)
    idx = rng.zipf(1.3, int(lens.sum())) % len(WORDS)
    toks = np.array(WORDS, dtype=object)[idx].tolist()
    ends = np.cumsum(lens).tolist()
    return [" ".join(toks[a:b]) for a, b in zip([0] + ends[:-1], ends)]


def _pick(values: tuple, idx: np.ndarray) -> pa.Array:
    return pa.array(np.array(values)[idx])


def _dates(rng, n: int) -> pa.Array:
    days = rng.integers(0, _N_DAYS, n)
    base = (EPOCH - datetime.date(1970, 1, 1)).days
    return pa.array((days + base).astype(np.int32), pa.date32())


def tpch_tables(seed: int, sf: float, lineitem: bool = True
                ) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, int(sf * 1000)])
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_part, n_supp = int(200_000 * sf), max(int(10_000 * sf), 10)
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int64()),
                       "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                  "MIDDLE EAST"]})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int64()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int64())})
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    part = pa.table({
        "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
        "p_name": _words(rng, n_part, 2, 4),
        "p_brand": [f"Brand#{i}" for i in rng.integers(11, 56, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2)})
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(1, n_ord + 1), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord), pa.int64()),
        "o_orderstatus": _pick(("F", "O", "P"),
                               rng.choice(3, n_ord, p=[0.49, 0.49, 0.02])),
        "o_totalprice": np.round(rng.uniform(800, 500_000, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_ord)),
        "o_comment": _words(rng, n_ord, 4, 10)})
    out = {"region": region, "nation": nation, "customer": customer,
           "supplier": supplier, "part": part, "orders": orders}
    if not lineitem:
        return out
    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(1, n_ord + 1), per_order),
                               pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order,
                                        per_order) + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(("A", "N", "R"), rng.integers(0, 3, n_li)),
        "l_linestatus": _pick(("F", "O"), rng.integers(0, 2, n_li)),
        "l_shipdate": _dates(rng, n_li)})
    return out


def documents(seed: int, n_docs: int) -> pa.Table:
    """A web-text-like corpus: Zipf word mix, ~4% exact duplicates, ~4%
    one-word near-duplicates, and e-mail/phone PII in ~10% of docs."""
    rng = np.random.default_rng([seed, n_docs])
    texts = _words(rng, n_docs, 12, 60)
    for i in range(1, n_docs):
        r = rng.random()
        j = int(rng.integers(0, i))
        if r < 0.04:
            texts[i] = texts[j]
        elif r < 0.08:
            words = texts[j].split()
            words[int(rng.integers(0, len(words)))] = "variant"
            texts[i] = " ".join(words)
        elif r < 0.18:
            texts[i] += (f" contact user{i}@example.com or "
                         f"555-{int(rng.integers(100, 999))}-"
                         f"{int(rng.integers(1000, 9999))}")
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 8, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def write_tables(tables: dict[str, pa.Table], directory: str) -> dict[str, str]:
    os.makedirs(directory, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(directory, f"{name}.parquet")
        pq.write_table(table, paths[name], compression="snappy")
    return paths


def spark_columns(table: pa.Table) -> list[tuple[str, str]]:
    """(column, Spark simpleString type) as DESCRIBE TABLE reports them."""
    return [(f.name, SPARK_TYPE[f.type]) for f in table.schema]


def lake_row(i: int, seed: int) -> tuple[int, float]:
    """(k, amount) of row ``id = i`` in the seeded Delta table."""
    return (i * 7 + seed) % 10, ((i * 13 + seed) % 100000) / 100.0


def delta_table(path: str, seed: int, commits: int, rows: int) -> None:
    """An append-only Delta table as another writer would leave it: one
    parquet file and one ``_delta_log`` JSON commit per version, with
    min/max statistics, ids ``[v * rows, (v + 1) * rows)`` in version
    ``v``. The protocol is Delta's public log format (reader v1)."""
    log = os.path.join(path, "_delta_log")
    os.makedirs(log, exist_ok=True)
    fields = [("id", "long", pa.int64()), ("k", "integer", pa.int32()),
              ("amount", "double", pa.float64())]
    schema = json.dumps({"type": "struct", "fields": [
        {"name": n, "type": t, "nullable": True, "metadata": {}}
        for n, t, _ in fields]})
    t0 = 1_700_000_000_000 + seed
    for v in range(commits):
        ids = np.arange(v * rows, (v + 1) * rows)
        k, amount = lake_row(ids, seed)
        table = pa.table({"id": pa.array(ids, pa.int64()),
                          "k": pa.array(k, pa.int32()),
                          "amount": pa.array(amount, pa.float64())})
        name = f"part-{v:05d}-{seed}.snappy.parquet"
        pq.write_table(table, os.path.join(path, name), compression="snappy")
        stats = {"numRecords": rows,
                 "minValues": {"id": int(ids[0]), "k": int(k.min()),
                               "amount": float(amount.min())},
                 "maxValues": {"id": int(ids[-1]), "k": int(k.max()),
                               "amount": float(amount.max())},
                 "nullCount": {"id": 0, "k": 0, "amount": 0}}
        actions = []
        if v == 0:
            actions += [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {"metaData": {"id": f"perfbench-{seed}",
                              "format": {"provider": "parquet", "options": {}},
                              "schemaString": schema, "partitionColumns": [],
                              "configuration": {}, "createdTime": t0}}]
        actions += [
            {"add": {"path": name, "partitionValues": {},
                     "size": os.path.getsize(os.path.join(path, name)),
                     "modificationTime": t0 + v, "dataChange": True,
                     "stats": json.dumps(stats)}},
            {"commitInfo": {"timestamp": t0 + v, "operation": "WRITE"}}]
        with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
            fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
