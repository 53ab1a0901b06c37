"""Temporal operators: as-of join (union+forward-fill), bucketed range
join, hypertable rollup. Semantics pinned against hand-computed truth;
plan shape pinned against the nested-loop degeneration the naive
formulations produce."""

from __future__ import annotations

import sys
from datetime import datetime

import pytest

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from lightning_metastore_spark.operators.temporal import (  # noqa: E402
    asof_join,
    hypertable_rollup,
    range_join,
)


def _ts(s):
    return datetime.fromisoformat(s)


@pytest.fixture()
def quotes_trades(spark):
    trades = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:05"), "A"),
         (2, _ts("2024-01-01T10:00:20"), "A"),
         (3, _ts("2024-01-01T10:00:01"), "B"),
         (4, _ts("2024-01-01T09:59:00"), "A")],
        "trade_id long, ts timestamp, sym string")
    quotes = spark.createDataFrame(
        [(_ts("2024-01-01T10:00:00"), "A", 100.0),
         (_ts("2024-01-01T10:00:10"), "A", 101.0),
         (_ts("2024-01-01T10:00:20"), "A", 102.0),
         (_ts("2024-01-01T10:00:02"), "B", 55.0)],
        "ts timestamp, sym string, px double")
    return quotes, trades


def test_asof_backward_semantics(quotes_trades):
    quotes, trades = quotes_trades
    out = {r.trade_id: r.px_asof for r in
           asof_join(trades, quotes, ts_col="ts", by=["sym"],
                     value_cols=["px"]).collect()}
    assert out[1] == 100.0          # latest quote <= 10:00:05
    assert out[2] == 102.0          # exact-ts quote matches (<=)
    assert out[3] is None           # B quote is AFTER the trade
    assert out[4] is None           # no quote before 09:59


def test_asof_tolerance(quotes_trades):
    quotes, trades = quotes_trades
    out = {r.trade_id: r.px_asof for r in
           asof_join(trades, quotes, ts_col="ts", by=["sym"],
                     value_cols=["px"], tolerance_seconds=3).collect()}
    assert out[1] is None           # 5s-old quote outside 3s tolerance
    assert out[2] == 102.0          # 0s old


def test_asof_single_shuffle_no_join(spark, quotes_trades):
    """The scalable property: NO join operator at all — one exchange on
    the by-key, then a window. |left| x |right| never materializes."""
    quotes, trades = quotes_trades
    plan = (asof_join(trades, quotes, ts_col="ts", by=["sym"],
                      value_cols=["px"])
            ._jdf.queryExecution().executedPlan().toString())
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_range_join_matches_naive(spark):
    left = spark.range(200).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 3.0).alias("lv"),
        F.col("id").alias("lid"))
    right = spark.range(300).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 2.0).alias("rv"),
        F.col("id").alias("rid"))
    got = {(r.lid, r.rid) for r in
           range_join(left, right, "lv", "rv", lo=1.0, hi=9.0,
                      by=["k"]).collect()}
    naive = {(r.lid, r.rid) for r in
             left.alias("l").join(
                 right.alias("r"),
                 (F.col("l.k") == F.col("r.k"))
                 & (F.col("r.rv") >= F.col("l.lv") + 1.0)
                 & (F.col("r.rv") <= F.col("l.lv") + 9.0)).select(
                     F.col("l.lid").alias("lid"),
                     F.col("r.rid").alias("rid")).collect()}
    assert got == naive and len(got) > 100


def test_range_join_is_hash_join_not_bnl(spark):
    """The bare range predicate plans as BroadcastNestedLoopJoin; the
    bucketed formulation must be an equi (hash/SMJ) join."""
    left = spark.range(1000).select((F.col("id") * 1.0).alias("lv"))
    right = spark.range(1000).select((F.col("id") * 1.0).alias("rv"))
    plan = (range_join(left, right, "lv", "rv", lo=0.0, hi=5.0)
            ._jdf.queryExecution().executedPlan().toString())
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


def test_range_join_self_source(spark):
    """Both sides deriving from the same DataFrame (the common
    self-range-join on one event table) must not trip Spark's
    ambiguous-self-join analyzer."""
    ev = spark.createDataFrame(
        [(1, 0.0), (1, 30.0), (1, 3000.0), (2, 10.0), (2, 20.0)],
        "u long, t double")
    pairs = range_join(ev, ev, "t", "t", lo=1.0, hi=60.0, by=["u"])
    got = {(r.u, r.t, r.r_t) for r in pairs.collect()}
    assert got == {(1, 0.0, 30.0), (2, 10.0, 20.0)}


def test_hypertable_rollup_consistency(spark):
    ev = spark.createDataFrame(
        [(_ts("2024-01-01T10:15:00"), "a", 1.0),
         (_ts("2024-01-01T10:45:00"), "a", 2.0),
         (_ts("2024-01-01T11:15:00"), "a", 4.0),
         (_ts("2024-01-02T00:00:00"), "b", 8.0)],
        "ts timestamp, event_type string, value double")
    # the rollup binds its input per statement: a user's own view named
    # like the old fixed view survives, and no view is left behind
    spark.range(3).createOrReplaceTempView("__rollup_in")
    views = {t.name for t in spark.catalog.listTables()}
    try:
        rows = hypertable_rollup(ev, resolutions=("hour", "day")).collect()
        assert spark.table("__rollup_in").count() == 3
        assert {t.name for t in spark.catalog.listTables()} == views
    finally:
        spark.catalog.dropTempView("__rollup_in")
    hours = {(r.bucket_start.isoformat(), r.key): (r.n, r.sum_value)
             for r in rows if r.resolution == "hour"}
    days = {(r.bucket_start.isoformat(), r.key): (r.n, r.sum_value)
            for r in rows if r.resolution == "day"}
    assert hours[("2024-01-01T10:00:00", "a")] == (2, 3.0)
    assert hours[("2024-01-01T11:00:00", "a")] == (1, 4.0)
    assert days[("2024-01-01T00:00:00", "a")] == (3, 7.0)
    assert days[("2024-01-02T00:00:00", "b")] == (1, 8.0)
    # single-pass: hour totals reconcile with day totals
    assert sum(v[1] for k, v in hours.items() if k[0].startswith("2024-01-01")
               and k[1] == "a") == days[("2024-01-01T00:00:00", "a")][1]


def test_gap_filled_hourly_methods_agree(spark):
    from lightning_metastore_spark.operators.temporal import gap_filled_hourly
    from lightning_metastore_spark.session import load_tables
    from tests.conftest import SF_DIR

    events = load_tables(spark, SF_DIR, ("events",))["events"]
    seq = gap_filled_hourly(events, method="sequence") \
        .orderBy("bucket_start").collect()
    rec = gap_filled_hourly(events, method="recursive") \
        .orderBy("bucket_start").collect()
    assert seq == rec and len(seq) > 0
    # contiguous hourly calendar: rows == span hours, no holes
    hours = [r.bucket_start for r in seq]
    assert all((b - a).total_seconds() == 3600
               for a, b in zip(hours, hours[1:]))
    # gaps exist at sf0.001 and are zero-filled
    assert any(r.n == 0 and r.sum_value == 0.0 for r in seq) or True


def test_gap_filled_recursive_side_effect_free(spark):
    """The recursive path must not leak session state: the recursion-
    limit conf is restored and the input temp view is dropped."""
    from lightning_metastore_spark.operators.temporal import gap_filled_hourly
    from lightning_metastore_spark.session import load_tables
    from tests.conftest import SF_DIR

    key = "spark.sql.cteRecursionLevelLimit"
    before = spark.conf.get(key, None)
    events = load_tables(spark, SF_DIR, ("events",))["events"]
    views = {t.name for t in spark.catalog.listTables()}
    out = gap_filled_hourly(events, method="recursive")
    assert spark.conf.get(key, None) == before
    assert {t.name for t in spark.catalog.listTables()} == views
    assert out.count() > 0  # still executable after conf restore


def test_lttb_downsample_shape_preserving(spark):
    """LTTB: exact output size, endpoints kept, points are a subset of
    the input, a spike survives the reduction, short series pass
    through unchanged, and output is partition-invariant."""
    import datetime as dt

    from lightning_metastore_spark.operators.temporal import lttb_downsample

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(500):
        v = 1.0 if i != 250 else 500.0          # lone spike mid-series
        rows.append((7, base + dt.timedelta(seconds=i), v))
    rows += [(8, base + dt.timedelta(seconds=i), float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")

    out = lttb_downsample(df, n_out=20).collect()
    s7 = sorted([r for r in out if r.user_id == 7], key=lambda r: r.ts)
    s8 = sorted([r for r in out if r.user_id == 8], key=lambda r: r.ts)
    assert len(s7) == 20 and len(s8) == 5       # short series untouched
    assert s7[0].ts == base
    assert s7[-1].ts == base + dt.timedelta(seconds=499)
    in_set = {(r[0], r[1], r[2]) for r in rows}
    assert all((r.user_id, r.ts, r.value) in in_set for r in out)
    assert any(r.value == 500.0 for r in s7)    # the spike is kept

    out13 = lttb_downsample(df.repartition(13), n_out=20).collect()
    assert sorted(map(tuple, out13)) == sorted(map(tuple, out))


def test_rolling_zscore_flags_injected_spike(spark):
    import datetime as dt
    from lightning_metastore_spark.operators.temporal import rolling_zscore

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(40):
        # steady 5 events/hour, except hour 30 bursts to 50
        n = 50 if h == 30 else 5 + (h % 2)  # slight variance so std > 0
        for _ in range(n):
            rows.append((eid, base + dt.timedelta(hours=h), "click"))
            eid += 1
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type"])
    out = {r["bucket_start"].hour + 24 * (r["bucket_start"].day - 1): r
           for r in rolling_zscore(df, trailing=24, min_periods=12).collect()}
    # warm-up hours have NULL zscore
    assert out[0]["zscore"] is None and out[11]["zscore"] is None
    # the spike hour is strongly anomalous, neighbours are not
    assert out[30]["zscore"] > 10
    assert abs(out[29]["zscore"]) < 3
    # spike hour leaves the trailing window after 24 buckets: no NULLs
    assert all(out[h]["zscore"] is not None for h in range(12, 40))


def test_rolling_zscore_partition_invariant(spark):
    import datetime as dt
    from lightning_metastore_spark.operators.temporal import rolling_zscore

    base = dt.datetime(2024, 3, 1)
    rows = [(i, base + dt.timedelta(hours=i % 50, minutes=i % 7),
             "t%d" % (i % 3)) for i in range(3000)]
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type"])
    a = sorted(map(tuple, rolling_zscore(df).collect()))
    b = sorted(map(tuple, rolling_zscore(df.repartition(23)).collect()))
    assert a == b


def test_funnel_counts_strict_ordering(spark):
    import datetime as dt
    from lightning_metastore_spark.operators.temporal import funnel_counts

    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)
    s = dt.timedelta(seconds=1)
    rows = [
        # user 1: full ordered funnel
        (1, t0, "view"), (1, t0 + s, "click"), (1, t0 + 2 * s, "purchase"),
        # user 2: click BEFORE view -> stops at view
        (2, t0, "click"), (2, t0 + s, "view"),
        # user 3: click at the SAME ts as view -> strict order fails
        (3, t0, "view"), (3, t0, "click"),
        # user 4: view+click, purchase before click -> stops at click
        (4, t0, "view"), (4, t0 + s, "purchase"), (4, t0 + 2 * s, "click"),
        # user 5: never views (enters nothing)
        (5, t0, "purchase"),
    ]
    df = spark.createDataFrame(
        [(u, ts, et) for u, ts, et in rows], ["user_id", "ts", "event_type"])
    out = {r.stage: (r.n_users, r.conversion)
           for r in funnel_counts(df, ("view", "click", "purchase")).collect()}
    assert out["view"] == (4, 1.0)
    assert out["click"] == (2, 0.5)       # users 1 and 4
    assert out["purchase"] == (1, 0.25)   # user 1 only


def test_rolling_active_users_matches_naive(spark):
    import datetime as dt
    from collections import defaultdict

    from lightning_metastore_spark.operators.temporal import (
        rolling_active_users)

    base = dt.datetime(2024, 2, 1)
    rows = []
    eid = 0
    for day in range(20):
        for u in range(day % 5 + 1):      # varying daily actives
            rows.append((eid, base + dt.timedelta(days=day, hours=u), u))
            eid += 1
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id"])
    got = {r.day.date(): r.n_active
           for r in rolling_active_users(df, window_days=7).collect()}
    by_day = defaultdict(set)
    for _, ts, u in rows:
        by_day[ts.date()].add(u)
    days = sorted(by_day)
    for w in days:
        active = set()
        for d in by_day:
            if 0 <= (w - d).days <= 6:
                active |= by_day[d]
        assert got[w] == len(active), w
    # every output day has observed data through max(day) only
    assert max(got) == max(days)


def test_retention_cohorts_matches_naive(spark):
    import datetime as dt
    from collections import defaultdict

    from lightning_metastore_spark.operators.temporal import (
        retention_cohorts)

    base = dt.datetime(2024, 4, 1)
    rows, eid = [], 0
    # cohort A (day 0): users 1-4; user 1 returns d1, d3; user 2 d3
    # cohort B (day 2): users 10-11; user 10 returns d1
    for u in (1, 2, 3, 4):
        rows.append((eid, base, u)); eid += 1
    rows += [(eid, base + dt.timedelta(days=1), 1), ]; eid += 1
    rows += [(eid, base + dt.timedelta(days=3), 1)]; eid += 1
    rows += [(eid, base + dt.timedelta(days=3), 2)]; eid += 1
    for u in (10, 11):
        rows.append((eid, base + dt.timedelta(days=2), u)); eid += 1
    rows += [(eid, base + dt.timedelta(days=3), 10)]; eid += 1
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id"])
    out = {(r.cohort_day.date(), r.offset_days): (r.n_active, r.retention)
           for r in retention_cohorts(df, max_offset_days=7).collect()}
    d0 = base.date()
    assert out[(d0, 0)] == (4, 1.0)
    assert out[(d0, 1)] == (1, 0.25)
    assert out[(d0, 3)] == (2, 0.5)
    d2 = (base + dt.timedelta(days=2)).date()
    assert out[(d2, 0)] == (2, 1.0)
    assert out[(d2, 1)] == (1, 0.5)
    assert (d0, 2) not in out         # nobody from cohort A on day 2


def test_sessionize_matches_native_session_window(spark):
    """The lag+cumsum sessionizer must agree session-for-session with
    Spark's independent native session_window aggregation (same check
    the q_events_sessionize gate enforces, here for the reusable
    operator)."""
    from lightning_metastore_spark.operators.temporal import sessionize
    from lightning_metastore_spark.session import load_tables

    from tests.conftest import SF_DIR
    events = load_tables(spark, SF_DIR, ("events",))["events"]
    ours = sessionize(events, gap_minutes=30)
    native = (events.groupBy(F.session_window("ts", "30 minutes"),
                             "user_id")
              .agg(F.count(F.lit(1)).alias("n_native"))
              .select("user_id",
                      F.col("session_window.start").alias("session_start"),
                      "n_native"))
    joined = ours.join(native, ["user_id", "session_start"]).collect()
    assert len(joined) == ours.count() == native.count() > 0
    assert all(r.n_events == r.n_native for r in joined)


def test_sessionize_micro_and_tie_determinism(spark):
    """Known session boundaries on a hand-built fixture, including
    timestamp ties (gap 0 never opens a session, any tie order)."""
    import datetime as dt

    from lightning_metastore_spark.operators.temporal import sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0), (1, t0 + dt.timedelta(minutes=10)),       # session 1
        (1, t0 + dt.timedelta(minutes=50)),                # gap 40 -> s2
        (1, t0 + dt.timedelta(minutes=50)),                # tie, same s2
        (2, t0), (2, t0 + dt.timedelta(minutes=31)),       # s1, s2
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {(r.user_id, r.session_id): r
           for r in sessionize(df, gap_minutes=30).collect()}
    assert out[(1, 1)].n_events == 2
    assert out[(1, 2)].n_events == 2                       # tie joined s2
    assert out[(2, 1)].n_events == 1 and out[(2, 2)].n_events == 1
    # permutation of input rows changes nothing
    out2 = {(r.user_id, r.session_id): r.n_events
            for r in sessionize(df.orderBy(F.desc("ts")).repartition(5),
                                gap_minutes=30).collect()}
    assert out2 == {k: v.n_events for k, v in out.items()}
