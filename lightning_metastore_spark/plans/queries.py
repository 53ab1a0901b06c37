"""Relational query library — the delegated Spark SQL surface.

The reference delegates every relational operator to Spark Catalyst
(SURVEY.md §2.7; reference `LightningExtendedParser.scala:224-236` routes
non-DDL text straight to the Spark parser). This module exercises that
surface as first-class DataFrame programs over the driver's TPC-H-ish
tables, each paired with a DuckDB oracle SQL string.

Determinism contract (both engines must hash-identically):
- Money columns in this dataset are exact 2-decimal values. Double sums
  accumulate in partition order (engine- and partitioning-dependent), and
  double->DECIMAL casts round differently across engines at digit
  boundaries (DuckDB: scaled-multiply + half-even; Spark: shortest-repr +
  HALF_UP — verified empirically). So all money aggregation happens in
  EXACT scaled-integer space: cents(x) = CAST(ROUND(x*100) AS BIGINT) is
  engine-identical (inputs sit within 4e-9 of integers), products like
  e*(1-d)*(1+t) become cents(e)*(100-pct(d))*(100+pct(t)) — exact int64,
  order-independent, bit-identical on any cluster layout — and the final
  value is one double division at the end.
- Every computed column is aliased identically in Spark and oracle SQL.
- Top-k orderings always carry a unique key tiebreak.

Scale notes inline per query: joins that should broadcast do so
explicitly; aggregations are partial-agg friendly (plain groupBy, no
driver-side collect anywhere). int64 headroom: charge_scaled <= ~1.1e11
per row, so overflow needs >8e7 rows per GROUP — repartition by group key
or widen to decimal only beyond ~sf1000 per group.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from lightning_metastore_spark.session import load_tables


def cents(col: Column) -> Column:
    """Exact integer cents for a 2-decimal double column."""
    return F.round(col * 100).cast("long")


def pct(col: Column) -> Column:
    """Exact integer percent for a 2-decimal fraction column (0.08 -> 8)."""
    return F.round(col * 100).cast("long")


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # DuckDB SQL over pre-registered views; None = rows-only check
    doc: str = ""


# Scaled-integer building blocks shared by the oracles (DuckDB syntax).
_C = "CAST(ROUND({x} * 100) AS BIGINT)"


def _cents_sql(x: str) -> str:
    return _C.format(x=x)


# revenue terms: cents(e) * (100 - pct(d))  -> scale 1e4
_REV_SPARK = lambda: cents(F.col("l_extendedprice")) * (100 - pct(F.col("l_discount")))  # noqa: E731
_REV_SQL = (f"{_cents_sql('l_extendedprice')} * "
            f"(100 - {_cents_sql('l_discount')})")
# charge: revenue * (100 + pct(t)) -> scale 1e6
_CHG_SQL = f"{_REV_SQL} * (100 + {_cents_sql('l_tax')})"


# --------------------------------------------------------------------------
# TPC-H-shaped queries (reference doc examples: lightning-commands.md:112-128,
# data_virtulization.md:145-182, build-open-lakehouse...md:144-168)
# --------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy groupBy with partial aggregation.

    At 100 TB this is a single parquet scan + 2-stage hash agg; the
    shipdate filter and the 7-column projection push into the scan.
    """
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = t["lineitem"].filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    rev = _REV_SPARK()
    chg = rev * (100 + pct(F.col("l_tax")))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round("l_quantity").cast("long")).alias("qty_s"),
            F.sum(cents(F.col("l_extendedprice"))).alias("base_s"),
            F.sum(rev).alias("disc_s"),
            F.sum(chg).alias("chg_s"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus",
            (F.col("qty_s") * 1.0).alias("sum_qty"),
            (F.col("base_s") / 100.0).alias("sum_base_price"),
            (F.col("disc_s") / 10000.0).alias("sum_disc_price"),
            (F.col("chg_s") / 1000000.0).alias("sum_charge"),
            "count_order",
            (F.col("qty_s") * 1.0 / F.col("count_order")).alias("avg_qty"),
            (F.col("base_s") / 100.0 / F.col("count_order")).alias("avg_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE) AS sum_qty,
       CAST(SUM({_cents_sql('l_extendedprice')}) AS DOUBLE) / 100 AS sum_base_price,
       CAST(SUM({_REV_SQL}) AS DOUBLE) / 10000 AS sum_disc_price,
       CAST(SUM({_CHG_SQL}) AS DOUBLE) / 1000000 AS sum_charge,
       COUNT(*) AS count_order,
       CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM({_cents_sql('l_extendedprice')}) AS DOUBLE) / 100 / COUNT(*) AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact join -> top-k.

    Broadcast policy: customer SCALES WITH THE FACTS (~1/40 of
    lineitem rows — ~2.5 TB at the 100 TB target, far past Spark's
    8 GB / 512M-row BroadcastExchange hard limit), so it carries NO
    broadcast hint: AQE's size check decides — it still broadcasts at
    gate/bench scale and falls back to a shuffled join at scale
    instead of failing the job. Only fixed-cardinality dims
    (region=5, nation=25 rows) get explicit hints in this module.
    Top-k via orderBy+limit (Spark plans TakeOrderedAndProject — no
    full sort materialization).
    """
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    cutoff = F.lit("1998-06-30").cast("timestamp")
    orders = t["orders"].filter(F.col("o_orderdate") < cutoff)
    li = t["lineitem"].filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(_REV_SPARK()) / 10000.0).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_ORACLE = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       SUM({_REV_SQL}) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-30'
  AND l_shipdate > TIMESTAMP '1998-06-30'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table snowflake join + group (the reference's
    'revenue query', lightning-commands.md:112-128).

    Broadcast policy: region (5 rows) and nation (25 rows) are FIXED
    cardinality at any scale factor — explicit hints. supplier and
    customer scale with the facts (sf x 10k / sf x 150k rows; TBs at
    the 100 TB target, past the 8 GB BroadcastExchange hard limit),
    so their joins carry NO hint — AQE's size check still broadcasts
    them at gate/bench scale and degrades to shuffled joins at scale
    instead of dying. The unavoidable shuffle is lineitem<->orders
    (fact-fact) plus the final 25-group agg.
    """
    t = load_tables(spark, sf_dir,
                    ("region", "nation", "customer", "supplier", "orders", "lineitem"))
    region = t["region"].filter(F.col("r_name") == "ASIA")
    nation = t["nation"].join(F.broadcast(region),
                              t["nation"].n_regionkey == region.r_regionkey)
    supp = t["supplier"].join(F.broadcast(nation),
                              t["supplier"].s_nationkey == nation.n_nationkey)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    cust = t["customer"]
    li = t["lineitem"]
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey)
              & (cust.c_nationkey == supp.s_nationkey))
    )
    return (
        joined.groupBy("n_name")
        .agg((F.sum(_REV_SPARK()) / 10000.0).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_ORACLE = f"""
SELECT n_name,
       SUM({_REV_SQL}) / 10000.0 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q1 shape: CTE + correlated scalar subquery (reference doc
    build-open-lakehouse-using-apache-iceberg.md:144-168). Catalyst
    decorrelates the subquery into a broadcastable per-segment agg.
    """
    load_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql("""
        WITH cust_total AS (
          SELECT c_custkey, c_mktsegment,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_spend
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY c_custkey, c_mktsegment
        )
        SELECT c_custkey, c_mktsegment, total_spend
        FROM cust_total ct
        WHERE total_spend > (
          SELECT 1.3 * AVG(total_spend) FROM cust_total ct2
          WHERE ct2.c_mktsegment = ct.c_mktsegment
        )
        ORDER BY total_spend DESC, c_custkey
        LIMIT 100
    """)


Q_BIG_SPENDERS_ORACLE = """
WITH cust_total AS (
  SELECT c_custkey, c_mktsegment,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_spend
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_custkey, c_mktsegment
)
SELECT c_custkey, c_mktsegment, total_spend
FROM cust_total ct
WHERE total_spend > (
  SELECT 1.3 * AVG(total_spend) FROM cust_total ct2
  WHERE ct2.c_mktsegment = ct.c_mktsegment
)
ORDER BY total_spend DESC, c_custkey
LIMIT 100
"""


def q_window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: per-customer top-3 orders by price with running
    total. row_number over a unique (price, key) ordering is
    deterministic; the single shuffle is the window partitioning.
    """
    t = load_tables(spark, sf_dir, ("orders",))
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        t["orders"]
        .withColumn("rk", F.row_number().over(w))
        .withColumn("running_spend",
                    (F.sum(cents(F.col("o_totalprice")))
                     .over(w.rowsBetween(W.unboundedPreceding, 0)) / 100.0))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice", "running_spend")
        .orderBy("o_custkey", "rk")
    )


Q_WINDOW_ORACLE = f"""
SELECT o_custkey, rk, o_orderkey, o_totalprice, running_spend
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk,
         SUM({_cents_sql('o_totalprice')})
              OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS running_spend
  FROM orders
) WHERE rk <= 3
ORDER BY o_custkey, rk
"""


Q_ROLLUP_ORACLE = f"""
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
       SUM({_cents_sql('o_totalprice')}) / 100.0 AS total_price
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
"""


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot AND unpivot in one slot: DataFrame .pivot with explicit
    values (no extra domain-discovery pass) widens per-priority status
    sums+counts, then stack() melts the wide result back to long — the
    round trip exercises both operators and the long output hash-checks
    every pivot cell. Oracle: the UNION ALL expansion."""
    t = load_tables(spark, sf_dir, ("orders",))
    piv = (
        t["orders"]
        .withColumn("price_c", cents(F.col("o_totalprice")))
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.sum("price_c").alias("t"), F.count(F.lit(1)).alias("n"))
    )
    return (piv.selectExpr(
        "o_orderpriority",
        "stack(3, 'O', O_n, O_t, 'F', F_n, F_t, 'P', P_n, P_t) "
        "as (o_orderstatus, n_orders, total_c)")
        .select("o_orderpriority", "o_orderstatus",
                F.coalesce(F.col("n_orders"), F.lit(0))
                .cast("long").alias("n_orders"),
                (F.coalesce(F.col("total_c"), F.lit(0)) / 100.0)
                .alias("total_price"))
        .orderBy("o_orderpriority", "o_orderstatus"))


Q_PIVOT_ORACLE = f"""
WITH wide AS (
  SELECT o_orderpriority,
         COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
         SUM(CASE WHEN o_orderstatus = 'O' THEN {_cents_sql('o_totalprice')} ELSE 0 END) AS t_o,
         COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
         SUM(CASE WHEN o_orderstatus = 'F' THEN {_cents_sql('o_totalprice')} ELSE 0 END) AS t_f,
         COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p,
         SUM(CASE WHEN o_orderstatus = 'P' THEN {_cents_sql('o_totalprice')} ELSE 0 END) AS t_p
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, 'O' AS o_orderstatus,
       CAST(n_o AS BIGINT) AS n_orders, t_o / 100.0 AS total_price FROM wide
UNION ALL
SELECT o_orderpriority, 'F', CAST(n_f AS BIGINT), t_f / 100.0 FROM wide
UNION ALL
SELECT o_orderpriority, 'P', CAST(n_p AS BIGINT), t_p / 100.0 FROM wide
ORDER BY o_orderpriority, o_orderstatus
"""


def q_setops_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: customers with both an URGENT and a LOW order
    (INTERSECT) minus those with any 'F' order (EXCEPT)."""
    load_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql("""
        SELECT c_custkey FROM customer JOIN orders ON c_custkey = o_custkey
        WHERE o_orderpriority = '1-URGENT'
        INTERSECT
        SELECT c_custkey FROM customer JOIN orders ON c_custkey = o_custkey
        WHERE o_orderpriority = '5-LOW'
        EXCEPT
        SELECT c_custkey FROM customer JOIN orders ON c_custkey = o_custkey
        WHERE o_orderstatus = 'F'
        ORDER BY c_custkey
    """)


Q_SETOPS_ORACLE = """
SELECT c_custkey FROM customer JOIN orders ON c_custkey = o_custkey
WHERE o_orderpriority = '1-URGENT'
INTERSECT
SELECT c_custkey FROM customer JOIN orders ON c_custkey = o_custkey
WHERE o_orderpriority = '5-LOW'
EXCEPT
SELECT c_custkey FROM customer JOIN orders ON c_custkey = o_custkey
WHERE o_orderstatus = 'F'
ORDER BY c_custkey
"""


def q_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP and CUBE in one gate entry (tagged union): each is a single
    Expand + partial/final hash agg — one scan per input table, no
    grouping-set re-scans. Registry is capped at 50 driver-checked
    entries, so the two Expand variants share one hash-verified row."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    r = (t["orders"]
         .rollup("o_orderpriority", "o_orderstatus")
         .agg(F.count(F.lit(1)).alias("n"),
              (F.sum(cents(F.col("o_totalprice"))) / 100.0).alias("total"))
         .select(F.lit("rollup").alias("op"),
                 F.col("o_orderpriority").alias("dim1"),
                 F.col("o_orderstatus").alias("dim2"), "n", "total"))
    c = (t["lineitem"]
         .cube("l_returnflag", "l_linestatus")
         .agg(F.count(F.lit(1)).alias("n"),
              (F.sum(cents(F.col("l_extendedprice"))) / 100.0).alias("total"))
         .select(F.lit("cube").alias("op"),
                 F.col("l_returnflag").alias("dim1"),
                 F.col("l_linestatus").alias("dim2"), "n", "total"))
    return r.unionAll(c).orderBy("op", F.asc_nulls_first("dim1"),
                                 F.asc_nulls_first("dim2"))


Q_ROLLUP_CUBE_ORACLE = f"""
SELECT 'rollup' AS op, o_orderpriority AS dim1, o_orderstatus AS dim2,
       COUNT(*) AS n, CAST(SUM({_cents_sql('o_totalprice')}) AS DOUBLE) / 100 AS total
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
UNION ALL
SELECT 'cube' AS op, l_returnflag AS dim1, l_linestatus AS dim2,
       COUNT(*) AS n, CAST(SUM({_cents_sql('l_extendedprice')}) AS DOUBLE) / 100 AS total
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY op, dim1 NULLS FIRST, dim2 NULLS FIRST
"""


def q_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (INTERSECT/EXCEPT) and bag (INTERSECT ALL/EXCEPT ALL) set
    operators in one tagged gate entry — both precedence groups preserved
    via subqueries."""
    load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql("""
        SELECT 'distinct' AS op, c_custkey AS key FROM (
          SELECT c_custkey FROM customer JOIN orders ON c_custkey = o_custkey
          WHERE o_orderpriority = '1-URGENT'
          INTERSECT
          SELECT c_custkey FROM customer JOIN orders ON c_custkey = o_custkey
          WHERE o_orderpriority = '5-LOW'
          EXCEPT
          SELECT c_custkey FROM customer JOIN orders ON c_custkey = o_custkey
          WHERE o_orderstatus = 'F'
        )
        UNION ALL
        SELECT 'bag' AS op, l_suppkey AS key FROM (
          SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
          INTERSECT ALL
          SELECT l_suppkey FROM lineitem WHERE l_linestatus = 'O'
          EXCEPT ALL
          SELECT l_suppkey FROM lineitem WHERE l_quantity > 45
        )
        ORDER BY op, key
    """)


Q_SETOPS_COMBINED_ORACLE = """
SELECT 'distinct' AS op, c_custkey AS key FROM (
  SELECT c_custkey FROM customer JOIN orders ON c_custkey = o_custkey
  WHERE o_orderpriority = '1-URGENT'
  INTERSECT
  SELECT c_custkey FROM customer JOIN orders ON c_custkey = o_custkey
  WHERE o_orderpriority = '5-LOW'
  EXCEPT
  SELECT c_custkey FROM customer JOIN orders ON c_custkey = o_custkey
  WHERE o_orderstatus = 'F'
)
UNION ALL
SELECT 'bag' AS op, l_suppkey AS key FROM (
  SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
  INTERSECT ALL
  SELECT l_suppkey FROM lineitem WHERE l_linestatus = 'O'
  EXCEPT ALL
  SELECT l_suppkey FROM lineitem WHERE l_quantity > 45
)
ORDER BY op, key
"""


def q_string_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wider string-function surface: pad/trim/replace/repeat/reverse/
    split_part/left/right — functions shared verbatim by both engines."""
    load_tables(spark, sf_dir, ("part",))
    return spark.sql("""
        SELECT p_partkey,
               LPAD(CAST(p_partkey AS STRING), 8, '0') AS padded_key,
               RPAD(p_brand, 12, '.') AS brand_pad,
               REVERSE(p_type) AS type_rev,
               REPLACE(p_type, ' ', '_') AS type_snake,
               REPEAT(LEFT(p_brand, 2), 2) AS brand_echo,
               RIGHT(p_name, 5) AS name_tail,
               SPLIT_PART(p_type, ' ', 1) AS type_first,
               TRIM(LEADING 'B' FROM p_brand) AS brand_trim
        FROM part
        WHERE p_partkey % 43 = 0
        ORDER BY p_partkey
    """)


Q_STRING_SURFACE_ORACLE = """
SELECT p_partkey,
       LPAD(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_key,
       RPAD(p_brand, 12, '.') AS brand_pad,
       REVERSE(p_type) AS type_rev,
       REPLACE(p_type, ' ', '_') AS type_snake,
       REPEAT(LEFT(p_brand, 2), 2) AS brand_echo,
       RIGHT(p_name, 5) AS name_tail,
       SPLIT_PART(p_type, ' ', 1) AS type_first,
       TRIM(LEADING 'B' FROM p_brand) AS brand_trim
FROM part
WHERE p_partkey % 43 = 0
ORDER BY p_partkey
"""


def q_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic surface: days-to-ship stats per priority (exact
    integer-day sums; Spark datediff == DATE subtraction in DuckDB),
    plus month bucketing and quarter extraction."""
    load_tables(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql("""
        SELECT o_orderpriority,
               CAST(QUARTER(o_orderdate) AS INT) AS q,
               COUNT(*) AS n,
               CAST(SUM(DATEDIFF(l_shipdate, o_orderdate)) AS BIGINT)
                 AS total_days_to_ship,
               CAST(MIN(DATEDIFF(l_shipdate, o_orderdate)) AS INT) AS min_days,
               CAST(MAX(DATEDIFF(l_shipdate, o_orderdate)) AS INT) AS max_days
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY o_orderpriority, QUARTER(o_orderdate)
        ORDER BY o_orderpriority, q
    """)


Q_DATE_ARITHMETIC_ORACLE = """
SELECT o_orderpriority,
       CAST(QUARTER(o_orderdate) AS INT) AS q,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)) AS BIGINT)
         AS total_days_to_ship,
       CAST(MIN(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)) AS INT)
         AS min_days,
       CAST(MAX(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)) AS INT)
         AS max_days
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY o_orderpriority, QUARTER(o_orderdate)
ORDER BY o_orderpriority, q
"""


def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling surface: NULLIF-manufactured nulls through null-safe
    equality (Spark `<=>` == ANSI IS NOT DISTINCT FROM), null grouping,
    COALESCE, and count(col) vs count(*) asymmetry."""
    load_tables(spark, sf_dir, ("lineitem",))
    return spark.sql("""
        WITH t AS (
          SELECT NULLIF(l_discount, 0.0) AS disc, l_returnflag,
                 NULLIF(l_tax, 0.0) AS tax
          FROM lineitem
        )
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               COUNT(disc) AS n_disc_nonnull,
               SUM(CASE WHEN disc IS NULL THEN 1 ELSE 0 END) AS n_disc_null,
               SUM(CASE WHEN disc <=> tax THEN 1 ELSE 0 END) AS n_nullsafe_eq,
               SUM(CASE WHEN disc IS DISTINCT FROM tax THEN 1 ELSE 0 END)
                 AS n_distinct_from,
               CAST(SUM(CAST(ROUND(COALESCE(disc, 0.0) * 100) AS BIGINT))
                    AS DOUBLE) / 100 AS disc_total
        FROM t
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """)


Q_NULL_SEMANTICS_ORACLE = """
WITH t AS (
  SELECT NULLIF(l_discount, 0.0) AS disc, l_returnflag,
         NULLIF(l_tax, 0.0) AS tax
  FROM lineitem
)
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       COUNT(disc) AS n_disc_nonnull,
       CAST(SUM(CASE WHEN disc IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_disc_null,
       CAST(SUM(CASE WHEN disc IS NOT DISTINCT FROM tax THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nullsafe_eq,
       CAST(SUM(CASE WHEN disc IS DISTINCT FROM tax THEN 1 ELSE 0 END) AS BIGINT)
         AS n_distinct_from,
       CAST(SUM(CAST(ROUND(COALESCE(disc, 0.0) * 100) AS BIGINT))
            AS DOUBLE) / 100 AS disc_total
FROM t
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates in one GROUP BY — Spark plans a
    single Expand + two-level aggregation, no repeated scans."""
    load_tables(spark, sf_dir, ("lineitem",))
    return spark.sql("""
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(DISTINCT l_suppkey) AS n_supps,
               COUNT(DISTINCT l_orderkey) AS n_orders,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """)


Q_MULTI_DISTINCT_ORACLE = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti joins (the scalable EXISTS / NOT EXISTS): per segment,
    how many customers have an urgent order vs no order at all."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    cust, orders = t["customer"], t["orders"]
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    has_urgent = (cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
                  .groupBy("c_mktsegment")
                  .agg(F.count(F.lit(1)).alias("n_with_urgent")))
    no_orders = (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
                 .groupBy("c_mktsegment")
                 .agg(F.count(F.lit(1)).alias("n_without_orders")))
    return (has_urgent.join(no_orders, "c_mktsegment", "full_outer")
            .select("c_mktsegment",
                    F.coalesce("n_with_urgent", F.lit(0)).alias("n_with_urgent"),
                    F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"))
            .orderBy("c_mktsegment"))


Q_SEMI_ANTI_ORACLE = """
WITH has_urgent AS (
  SELECT c_mktsegment, COUNT(*) AS n_with_urgent FROM customer
  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
  GROUP BY c_mktsegment
), no_orders AS (
  SELECT c_mktsegment, COUNT(*) AS n_without_orders FROM customer
  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
  GROUP BY c_mktsegment
)
SELECT COALESCE(h.c_mktsegment, n.c_mktsegment) AS c_mktsegment,
       COALESCE(n_with_urgent, 0) AS n_with_urgent,
       COALESCE(n_without_orders, 0) AS n_without_orders
FROM has_urgent h FULL OUTER JOIN no_orders n ON h.c_mktsegment = n.c_mktsegment
ORDER BY c_mktsegment
"""


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math/JSON scalar function surface over events —
    everything JVM-side in one whole-stage-codegen span."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].filter(F.col("event_id") % 97 == 0)
    return ev.select(
        "event_id",
        F.upper("event_type").alias("etype_upper"),
        F.length("event_type").alias("etype_len"),
        F.substring("event_type", 1, 3).alias("etype_pfx"),
        F.year("ts").alias("ev_year"),
        F.month("ts").alias("ev_month"),
        F.dayofmonth("ts").alias("ev_day"),
        F.hour("ts").alias("ev_hour"),
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        F.round(F.abs(F.col("value")) + F.sqrt(F.abs(F.col("value"))), 6).alias("val_math"),
        F.concat_ws("-", "event_type", F.col("user_id").cast("string")).alias("tag"),
    ).orderBy("event_id")


Q_SCALAR_ORACLE = """
SELECT event_id,
       UPPER(event_type) AS etype_upper,
       CAST(LENGTH(event_type) AS INT) AS etype_len,
       SUBSTRING(event_type, 1, 3) AS etype_pfx,
       CAST(YEAR(ts) AS INT) AS ev_year,
       CAST(MONTH(ts) AS INT) AS ev_month,
       CAST(DAY(ts) AS INT) AS ev_day,
       CAST(HOUR(ts) AS INT) AS ev_hour,
       CAST(json_extract_string(props, '$.k') AS INT) AS prop_k,
       ROUND(ABS(value) + SQRT(ABS(value)), 6) AS val_math,
       event_type || '-' || CAST(user_id AS VARCHAR) AS tag
FROM events
WHERE event_id % 97 = 0
ORDER BY event_id
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of the streaming windowed
    agg): date_trunc to the hour + 2-stage hash agg."""
    t = load_tables(spark, sf_dir, ("events",))
    return (
        t["events"]
        .groupBy(F.date_trunc("hour", "ts").alias("hour_ts"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             (F.sum(cents(F.col("value"))) / 100.0).alias("sum_value"),
             F.countDistinct("user_id").alias("n_users"))
        .orderBy("hour_ts", "event_type")
    )


Q_EVENTS_HOURLY_ORACLE = f"""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts, event_type,
       COUNT(*) AS n_events,
       SUM({_cents_sql('value')}) / 100.0 AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
ORDER BY hour_ts, event_type
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min idle gap) two ways in one gate
    entry: (a) the classic scalable lag -> new-session flag -> cumulative
    sum formulation (one shuffle on user_id), (b) Spark's NATIVE
    session_window aggregation — joined on (user_id, session_start), so
    the oracle hash-verifies that both produce identical sessions. An
    inner join means any native/window divergence surfaces as a rowcount
    mismatch."""
    t = load_tables(spark, sf_dir, ("events",))
    by_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    ev = (
        t["events"]
        .withColumn("prev_us", F.lag(F.unix_micros("ts")).over(by_user))
        .withColumn("new_session",
                    F.when(F.col("prev_us").isNull()
                           | (F.unix_micros("ts") - F.col("prev_us") > 30 * 60 * 1_000_000),
                           F.lit(1)).otherwise(F.lit(0)))
        .withColumn("session_id", F.sum("new_session").over(
            by_user.rowsBetween(W.unboundedPreceding, 0)))
    )
    windowed = (
        ev.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"))
    )
    native = (t["events"]
              .groupBy(F.session_window("ts", "30 minutes"), "user_id")
              .agg(F.count(F.lit(1)).alias("n_events_native"))
              .select("user_id",
                      F.col("session_window.start").alias("session_start"),
                      "n_events_native"))
    return (windowed.join(native, ["user_id", "session_start"])
            .select("user_id", "session_id", "n_events", "n_events_native",
                    "session_start", "session_end")
            .orderBy("user_id", "session_id"))


Q_SESSIONIZE_ORACLE = """
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
), flagged AS (
  SELECT user_id, event_id, us,
         CASE WHEN LAG(us) OVER w IS NULL OR us - LAG(us) OVER w > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), sessions AS (
  SELECT user_id, us,
         -- CAST: DuckDB integer SUM yields HUGEINT (int128); Spark window SUM is
         -- BIGINT. Typed value-hash compare requires the explicit downcast.
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       COUNT(*) AS n_events_native,
       make_timestamp(MIN(us)) AS session_start,
       make_timestamp(MAX(us)) AS session_end
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def q_top_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated aggregate subquery (per-group max)
    decorrelated by Catalyst into a broadcast join against the grouped
    maxima."""
    load_tables(spark, sf_dir, ("supplier", "nation"))
    return spark.sql("""
        SELECT n_name, s_name, s_acctbal
        FROM supplier s JOIN nation n ON s_nationkey = n_nationkey
        WHERE s_acctbal = (
          SELECT MAX(s_acctbal) FROM supplier s2
          WHERE s2.s_nationkey = s.s_nationkey
        )
        ORDER BY n_name, s_name
    """)


Q_TOP_SUPPLIER_ORACLE = """
SELECT n_name, s_name, s_acctbal
FROM supplier s JOIN nation n ON s_nationkey = n_nationkey
WHERE s_acctbal = (
  SELECT MAX(s_acctbal) FROM supplier s2
  WHERE s2.s_nationkey = s.s_nationkey
)
ORDER BY n_name, s_name
"""


def q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with date arithmetic -> left-semi join;
    counts per priority."""
    load_tables(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql("""
        SELECT o_orderpriority, COUNT(*) AS n_late
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAYS
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """)


Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_late
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: nation-pair trade volume by year. The two
    nation dims (fixed 25 rows) broadcast explicitly; supplier and
    customer scale with the facts, so their joins carry no hint — AQE
    decides (broadcast at small sf, shuffled join past the 8 GB
    BroadcastExchange limit; see q3's policy note)."""
    t = load_tables(spark, sf_dir,
                    ("nation", "customer", "supplier", "orders", "lineitem"))
    n1 = t["nation"].select(F.col("n_nationkey").alias("s_nk"),
                            F.col("n_name").alias("supp_nation"))
    n2 = t["nation"].select(F.col("n_nationkey").alias("c_nk"),
                            F.col("n_name").alias("cust_nation"))
    pair = (t["lineitem"]
            .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
            .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
            .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
            .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
            .filter(((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
                    | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))))
    return (pair
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").alias("l_year"))
            .agg((F.sum(_REV_SPARK()) / 10000.0).alias("volume"))
            .orderBy("supp_nation", "cust_nation", "l_year"))


Q7_ORACLE = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(YEAR(l_shipdate) AS INT) AS l_year,
       SUM({_REV_SQL}) / 10000.0 AS volume
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
GROUP BY 1, 2, 3
ORDER BY supp_nation, cust_nation, l_year
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20.
    nation (fixed 25 rows) broadcasts explicitly; customer scales with
    the facts — no hint, AQE decides (see q3's policy note)."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem", "nation"))
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    return (li.join(t["orders"], li.l_orderkey == t["orders"].o_orderkey)
            .join(t["customer"],
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(t["nation"]),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "n_name")
            .agg((F.sum(_REV_SPARK()) / 10000.0).alias("revenue"))
            .orderBy(F.desc("revenue"), "c_custkey")
            .limit(20))


Q10_ORACLE = f"""
SELECT c_custkey, c_name, n_name,
       SUM({_REV_SQL}) / 10000.0 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_left_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer-join surface: order counts per customer INCLUDING
    zero-order customers (left outer + conditional count)."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    return (t["customer"]
            .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
            .groupBy("c_custkey")
            .agg(F.count("o_orderkey").alias("n_orders"))
            .groupBy("n_orders")
            .agg(F.count(F.lit(1)).alias("n_customers"))
            .orderBy("n_orders"))


Q_LEFT_JOIN_ORACLE = """
SELECT n_orders, COUNT(*) AS n_customers FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) GROUP BY n_orders ORDER BY n_orders
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS + HAVING (the grouped surface beyond
    rollup/cube): one Expand node, no repeated scans."""
    load_tables(spark, sf_dir, ("orders",))
    return spark.sql("""
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
                 AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
                                (o_orderpriority, o_orderstatus))
        HAVING COUNT(*) > 100
        ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
    """)


Q_GROUPING_SETS_ORACLE = """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
         AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
                        (o_orderpriority, o_orderstatus))
HAVING COUNT(*) > 100
ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-set aggregates: exact interpolated percentiles per group
    (percentile_cont — deterministic given identical input doubles)."""
    load_tables(spark, sf_dir, ("orders",))
    return spark.sql("""
        SELECT o_orderstatus,
               ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 6)
                 AS median_price,
               ROUND(percentile_cont(0.95) WITHIN GROUP (ORDER BY o_totalprice), 6)
                 AS p95_price,
               ROUND(MIN(o_totalprice), 2) AS min_price,
               ROUND(MAX(o_totalprice), 2) AS max_price
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """)


Q_PERCENTILES_ORACLE = """
SELECT o_orderstatus,
       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 6)
         AS median_price,
       ROUND(percentile_cont(0.95) WITHIN GROUP (ORDER BY o_totalprice), 6)
         AS p95_price,
       ROUND(MIN(o_totalprice), 2) AS min_price,
       ROUND(MAX(o_totalprice), 2) AS max_price
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame + navigation functions (first/lag/lead/ntile) in one
    gate entry over events: one windowed pass per distinct (partition,
    ordering) spec — Spark plans a single sort for the two specs sharing
    (user_id, us) ordering. NTILE is deterministic because the ordering
    key (us, event_id) is unique."""
    load_tables(spark, sf_dir, ("events",))
    return spark.sql("""
        SELECT event_id, user_id,
               COUNT(*) OVER (PARTITION BY user_id ORDER BY unix_micros(ts)
                              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                 AS n_last_hour,
               FIRST_VALUE(event_id) OVER w AS first_event,
               LAG(event_id) OVER w AS prev_event,
               LEAD(event_id) OVER w AS next_event,
               NTILE(4) OVER w AS quartile
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY unix_micros(ts), event_id)
        ORDER BY event_id
    """)


Q_WINDOW_FRAMES_ORACLE = """
SELECT event_id, user_id,
       COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         AS n_last_hour,
       FIRST_VALUE(event_id) OVER w AS first_event,
       LAG(event_id) OVER w AS prev_event,
       LEAD(event_id) OVER w AS next_event,
       NTILE(4) OVER w AS quartile
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
ORDER BY event_id
"""


def q_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions in the gate: per-label stats of
    vector norms and extrema (aggregate/transform/array_max)."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x),
                              F.lit(0.0), lambda a, x: a + x))
    return (t["embeddings"]
            .select("label", F.round(norm, 9).alias("norm"),
                    F.round(F.array_max(v), 9).alias("vmax"),
                    F.size(v).alias("dim"))
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.min("norm"), 6).alias("min_norm"),
                 F.round(F.max("norm"), 6).alias("max_norm"),
                 F.round(F.max("vmax"), 6).alias("max_component"),
                 F.max("dim").alias("dim"))
            .orderBy("label"))


Q_VECTOR_STATS_ORACLE = """
WITH per_vec AS (
  SELECT label,
         ROUND(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                            x -> x * x))), 9) AS norm,
         ROUND(list_max(CAST(embedding AS DOUBLE[])), 9) AS vmax,
         len(embedding) AS dim
  FROM embeddings
)
SELECT label, COUNT(*) AS n,
       ROUND(MIN(norm), 6) AS min_norm,
       ROUND(MAX(norm), 6) AS max_norm,
       ROUND(MAX(vmax), 6) AS max_component,
       CAST(MAX(dim) AS INT) AS dim
FROM per_vec GROUP BY label ORDER BY label
"""


def q_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vectorized-Python escape hatch in the gate: an Arrow-batched
    pandas_udf computing a fee schedule (pure float64 arithmetic — same
    IEEE ops as the SQL oracle, so results hash-match). Demonstrates
    that when Python IS needed, the Arrow path preserves determinism."""
    from pyspark.sql.functions import pandas_udf

    t = load_tables(spark, sf_dir, ("orders",))

    @pandas_udf("double")
    def fee(price: pd.Series) -> pd.Series:
        # piecewise fee: 2% under 100k, else 1% + 1000; float64 vector ops
        return (price * 0.02).where(price < 100000.0, price * 0.01 + 1000.0)

    return (t["orders"]
            .withColumn("fee", F.round(fee(F.col("o_totalprice")), 6))
            .filter(F.col("o_orderkey") % 31 == 0)
            .select("o_orderkey", "o_totalprice", "fee")
            .orderBy("o_orderkey"))


Q_PANDAS_UDF_ORACLE = """
SELECT o_orderkey, o_totalprice,
       ROUND(CASE WHEN o_totalprice < 100000.0 THEN o_totalprice * 0.02
                  ELSE o_totalprice * 0.01 + 1000.0 END, 6) AS fee
FROM orders
WHERE o_orderkey % 31 = 0
ORDER BY o_orderkey
"""


RELATIONAL_QUERIES: dict[str, QuerySpec] = {
    s.name: s for s in [
        QuerySpec("q1_pricing_summary", q1_pricing_summary, Q1_ORACLE,
                  "TPC-H Q1 shape: scan + grouped aggregation"),
        QuerySpec("q3_shipping_priority", q3_shipping_priority, Q3_ORACLE,
                  "TPC-H Q3 shape: dim filter + fact join + top-k"),
        QuerySpec("q5_local_supplier_revenue", q5_local_supplier_revenue, Q5_ORACLE,
                  "TPC-H Q5 shape: 6-table snowflake join"),
        QuerySpec("q_big_spenders", q_big_spenders, Q_BIG_SPENDERS_ORACLE,
                  "TPC-DS Q1 shape: CTE + correlated scalar subquery"),
        QuerySpec("q_window_topk_orders", q_window_topk_orders, Q_WINDOW_ORACLE,
                  "window: row_number + running sum"),
        QuerySpec("q_rollup_cube", q_rollup_cube, Q_ROLLUP_CUBE_ORACLE,
                  "GROUP BY ROLLUP + CUBE (both Expand variants)"),
        QuerySpec("q_pivot_status", q_pivot_status, Q_PIVOT_ORACLE,
                  "pivot (explicit domain) + unpivot via stack round trip"),
        QuerySpec("q_setops", q_setops, Q_SETOPS_COMBINED_ORACLE,
                  "INTERSECT/EXCEPT + INTERSECT ALL/EXCEPT ALL"),
        QuerySpec("q_multi_distinct", q_multi_distinct, Q_MULTI_DISTINCT_ORACLE,
                  "multiple DISTINCT aggregates (Expand plan)"),
        QuerySpec("q_null_semantics", q_null_semantics, Q_NULL_SEMANTICS_ORACLE,
                  "null-safe equality / IS DISTINCT FROM / null counting"),
        QuerySpec("q_date_arithmetic", q_date_arithmetic, Q_DATE_ARITHMETIC_ORACLE,
                  "datediff / quarter bucketing (exact integer days)"),
        QuerySpec("q_string_surface", q_string_surface, Q_STRING_SURFACE_ORACLE,
                  "pad/trim/replace/repeat/reverse/split_part surface"),
        QuerySpec("q_semi_anti_customers", q_semi_anti_customers, Q_SEMI_ANTI_ORACLE,
                  "left-semi / left-anti joins"),
        QuerySpec("q_scalar_functions", q_scalar_functions, Q_SCALAR_ORACLE,
                  "string/date/math/JSON scalar surface"),
        # q_events_hourly is deliberately NOT registered: the 50-slot
        # gate is full and stream_events hash-checks the identical
        # hourly aggregation (its hourly side vs the same batch oracle);
        # the batch function stays for tests/tools use.
        QuerySpec("q_events_sessionize", q_events_sessionize, Q_SESSIONIZE_ORACLE,
                  "gap sessionization: lag+cumsum vs native session_window"),
        QuerySpec("q_top_supplier_per_nation", q_top_supplier_per_nation,
                  Q_TOP_SUPPLIER_ORACLE,
                  "TPC-H Q2 shape: correlated aggregate subquery"),
        QuerySpec("q4_late_orders", q4_late_orders, Q4_ORACLE,
                  "TPC-H Q4 shape: EXISTS with date arithmetic"),
        QuerySpec("q7_volume_shipping", q7_volume_shipping, Q7_ORACLE,
                  "TPC-H Q7 shape: nation-pair volume by year"),
        QuerySpec("q10_returned_items", q10_returned_items, Q10_ORACLE,
                  "TPC-H Q10 shape: returned-item revenue top-k"),
        QuerySpec("q_left_join_counts", q_left_join_counts, Q_LEFT_JOIN_ORACLE,
                  "left outer join + double aggregation"),
        QuerySpec("q_grouping_sets", q_grouping_sets, Q_GROUPING_SETS_ORACLE,
                  "GROUPING SETS + HAVING"),
        QuerySpec("q_percentiles", q_percentiles, Q_PERCENTILES_ORACLE,
                  "ordered-set aggregates (percentile_cont)"),
        QuerySpec("q_window_frames", q_window_frames, Q_WINDOW_FRAMES_ORACLE,
                  "RANGE frame + first/lag/lead/ntile navigation"),
        QuerySpec("q_vector_stats", q_vector_stats, Q_VECTOR_STATS_ORACLE,
                  "array higher-order functions over embeddings"),
        QuerySpec("q_pandas_udf", q_pandas_udf, Q_PANDAS_UDF_ORACLE,
                  "Arrow-batched pandas UDF (vectorized Python path)"),
    ]
}
