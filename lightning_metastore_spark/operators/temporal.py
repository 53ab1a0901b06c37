"""Temporal join operators Spark SQL lacks natively: as-of join,
bucketed range join, multi-resolution hypertable rollup.

These are the point-in-time primitives of event/feature pipelines
(feature stores, tick data, session attribution). Spark has no ASOF
JOIN and plans naive range predicates as broadcast-nested-loop; both
formulations here are single-shuffle compositions of existing
DataFrame operators, per the engine's Spark-first design rule
(SURVEY.md §7) — no UDFs, no driver loops.

Scale shapes:
- ``asof_join``: union the two streams, ONE shuffle on the join key,
  forward-fill the right side's columns with ``last(ignoreNulls)``
  over (key, time) — O(n log n) per key partition and zero fan-out.
  The join-then-rank alternative (equi-join + row_number) explodes to
  |left| x |right-per-key| intermediates; the union-window form never
  materializes a candidate pair.
- ``range_join``: band-bucketize both sides at width = hi - lo (the
  left interval spans at most 2 buckets), equi-join on (key, bucket),
  apply the residual BETWEEN inside the join. Turns the O(n*m)
  nested-loop Spark would plan into a keyed hash join whose fan-out is
  the true match density. DuckDB's IEJoin is the oracle.
- ``hypertable_rollup``: one pass, one shuffle — GROUPING SETS over
  pre-truncated time buckets (the TimescaleDB continuous-aggregate
  shape without the incremental store).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from lightning_metastore_spark.session import sql_with_views


def asof_join(left: DataFrame, right: DataFrame,
              ts_col: str = "ts", by: Sequence[str] = ("user_id",),
              value_cols: Optional[Sequence[str]] = None,
              tolerance_seconds: Optional[float] = None,
              suffix: str = "_asof") -> DataFrame:
    """LEFT as-of join: each left row gains the latest right row's
    ``value_cols`` with right.ts <= left.ts, per ``by`` key (backward
    direction, pandas ``merge_asof`` / DuckDB ``ASOF JOIN`` semantics).
    Left rows with no prior right row keep NULLs; ``tolerance_seconds``
    additionally NULLs matches older than the window.

    Ties: a right row at exactly left.ts matches (<=). Multiple right
    rows sharing (by, ts) are resolved by the last one in ``ts_col``
    then input order of the union — pre-deduplicate the right side for
    fully deterministic output (the gate query does).
    """
    by = list(by)
    if value_cols is None:
        value_cols = [c for c in right.columns
                      if c not in by and c != ts_col]
    value_cols = list(value_cols)

    l_tag = left.withColumn("__is_left", F.lit(1))
    for c in value_cols:
        l_tag = l_tag.withColumn(f"__r_{c}", F.lit(None).cast(
            dict(right.dtypes)[c]))
    l_tag = l_tag.withColumn("__r_ts", F.lit(None).cast(
        dict(right.dtypes)[ts_col]))
    r_tag = right.select(
        *[F.col(c) for c in by],
        F.col(ts_col),
        F.lit(0).alias("__is_left"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
        F.col(ts_col).alias("__r_ts"))
    for c in left.columns:
        if c not in by and c != ts_col:
            r_tag = r_tag.withColumn(c, F.lit(None).cast(
                dict(left.dtypes)[c]))
    unioned = l_tag.unionByName(r_tag)

    # right rows order BEFORE left rows at equal ts => <= semantics
    w = (W.partitionBy(*by)
         .orderBy(F.col(ts_col).asc(), F.col("__is_left").asc())
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    filled = unioned.select(
        "*",
        *[F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__f_{c}")
          for c in value_cols],
        F.last("__r_ts", ignorenulls=True).over(w).alias("__f_ts"))
    out = filled.filter(F.col("__is_left") == 1)
    keep = (F.lit(True) if tolerance_seconds is None else
            (F.col(ts_col).cast("double") - F.col("__f_ts").cast("double")
             <= F.lit(float(tolerance_seconds))))
    return out.select(
        *[F.col(c) for c in left.columns],
        *[F.when(keep, F.col(f"__f_{c}")).alias(f"{c}{suffix}")
          for c in value_cols])


def range_join(left: DataFrame, right: DataFrame,
               left_val: str, right_val: str,
               lo: float, hi: float,
               by: Sequence[str] = (),
               how: str = "inner") -> DataFrame:
    """Join rows where ``right.right_val BETWEEN left.left_val + lo AND
    left.left_val + hi`` (plus optional equi-keys ``by``) WITHOUT the
    broadcast-nested-loop plan Spark gives a bare range predicate.

    Both sides bucketize at width = hi - lo; a left interval overlaps
    at most 2 consecutive buckets, so the left side fans out x2 (a
    constant) and the join runs as a keyed hash join on
    (by..., bucket) with the exact BETWEEN as a residual condition.
    """
    if hi <= lo:
        raise ValueError(f"range_join needs hi > lo, got [{lo}, {hi}]")
    if how != "inner":
        raise ValueError("range_join supports inner joins")
    width = float(hi - lo)
    by = list(by)
    # the right side is renamed wholesale before the join: both inputs
    # commonly derive from the SAME source DataFrame (self-range-joins
    # on an event table), and unique names sidestep Spark's ambiguous-
    # self-join resolution entirely
    r_ren = right.select(*[F.col(c).alias(f"__r_{c}") for c in right.columns])
    lb0 = F.floor((F.col(left_val) + F.lit(float(lo))) / width).cast("long")
    lb1 = F.floor((F.col(left_val) + F.lit(float(hi))) / width).cast("long")
    l_b = left.withColumn("__lb", F.explode(F.array_distinct(
        F.array(lb0, lb1))))
    r_b = r_ren.withColumn("__rb", F.floor(F.col(f"__r_{right_val}") / width)
                           .cast("long"))
    join_cond = (
        (F.col("__lb") == F.col("__rb"))
        & (F.col(f"__r_{right_val}") >= F.col(left_val) + F.lit(float(lo)))
        & (F.col(f"__r_{right_val}") <= F.col(left_val) + F.lit(float(hi))))
    for k in by:
        join_cond = join_cond & (F.col(k) == F.col(f"__r_{k}"))
    joined = l_b.join(r_b, join_cond)
    lcols = [F.col(c) for c in left.columns]
    rcols = [F.col(f"__r_{c}").alias(c if c not in left.columns else f"r_{c}")
             for c in right.columns]
    return joined.select(*lcols, *rcols)


def hypertable_rollup(events: DataFrame, ts_col: str = "ts",
                      key_col: str = "event_type",
                      value_col: str = "value",
                      resolutions: Sequence[str] = ("hour", "day", "week"),
                      ) -> DataFrame:
    """Multi-resolution time-bucket aggregates in ONE pass / ONE
    shuffle via GROUPING SETS over pre-truncated buckets (the
    continuous-aggregate query shape). Output: (resolution,
    bucket_start, key, n, sum_value_cents-derived double) stacked."""
    buckets = events.select(
        F.col(key_col).alias("key"),
        F.col(value_col).alias("v"),
        *[F.date_trunc(r, F.col(ts_col)).alias(f"b_{r}")
          for r in resolutions])
    bucket_cols = ", ".join(f"b_{r}" for r in resolutions)
    sets = ", ".join(f"(key, b_{r})" for r in resolutions)
    res_case = " ".join(
        f"WHEN b_{r} IS NOT NULL THEN '{r}'" for r in resolutions)
    # the input binds per statement: a fixed-name session view would be
    # shared by concurrent callers (and replace a user's own view).
    # Exact cents accumulation: engine-portable money math (see
    # plans/queries.py float-determinism note)
    return sql_with_views(buckets.sparkSession, f"""
        SELECT CASE {res_case} END AS resolution,
               COALESCE({", ".join(f"b_{r}" for r in resolutions)})
                 AS bucket_start,
               key,
               COUNT(v) AS n,
               CAST(SUM(CAST(ROUND(v * 100) AS BIGINT)) AS DOUBLE) / 100
                 AS sum_value
        FROM {{rollup_in}}
        GROUP BY GROUPING SETS ({sets})
        HAVING CASE {res_case} END IS NOT NULL
        ORDER BY resolution, bucket_start, key
    """, rollup_in=buckets)


def gap_filled_hourly(events: DataFrame, ts_col: str = "ts",
                      value_col: str = "value",
                      method: str = "sequence") -> DataFrame:
    """Zero-filled hourly series over the events' time span:
    (bucket_start, n, sum_value) with a row for EVERY hour, gaps at
    n=0 — the calendar gap-fill every time-series dashboard needs
    (TimescaleDB's time_bucket_gapfill shape).

    method='sequence' (default, the scale path): the calendar comes
    from one sequence() + explode over the min/max bounds — constant
    plan depth, parallel, no iteration. method='recursive': the same
    calendar via Spark 4's WITH RECURSIVE (one row per recursion level;
    engine-portable SQL but linear recursion depth — demonstration of
    the recursive-CTE surface, not the 100 TB path). Both produce
    identical output (test-asserted).
    """
    spark = events.sparkSession
    hourly = (events
              .groupBy(F.date_trunc("hour", F.col(ts_col)).alias("bh"))
              .agg(F.count(value_col).alias("n"),
                   (F.sum(F.round(F.col(value_col) * 100).cast("long"))
                    .cast("double") / 100).alias("sv")))
    if method == "recursive":
        # scope BOTH side effects: the recursion-limit conf is saved and
        # restored (pattern: operators/layout.py outputTimestampType),
        # and the input binds as a per-statement view. The recursion
        # limit is read at EXECUTION time, so the calendar is
        # materialized eagerly (localCheckpoint — one row per hour,
        # bounded) inside the scoped region; the conf seen by the rest
        # of the session is exactly what it was before this call.
        conf_key = "spark.sql.cteRecursionLevelLimit"
        prev = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, "1000000")
        try:
            cal = sql_with_views(spark, """
                WITH RECURSIVE cal(h, hi) AS (
                  SELECT CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP),
                         CAST(date_trunc('hour', MAX(ts)) AS TIMESTAMP)
                  FROM {events}
                  UNION ALL
                  SELECT h + INTERVAL 1 HOUR, hi FROM cal WHERE h < hi
                ) SELECT h FROM cal""",
                events=events.select(F.col(ts_col).alias("ts")),
            ).localCheckpoint(eager=True)
        finally:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)
    else:
        bounds = events.agg(
            F.date_trunc("hour", F.min(ts_col)).alias("lo"),
            F.date_trunc("hour", F.max(ts_col)).alias("hi"))
        cal = bounds.select(
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR")))
            .alias("h"))
    return (cal.join(hourly, cal.h == hourly.bh, "left")
            .select(F.col("h").alias("bucket_start"),
                    F.coalesce("n", F.lit(0)).cast("long").alias("n"),
                    F.coalesce("sv", F.lit(0.0)).alias("sum_value")))


def lttb_downsample(series: DataFrame, n_out: int,
                    key_col: str = "user_id", ts_col: str = "ts",
                    val_col: str = "value") -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013 —
    public algorithm) of each key's time series to ``n_out`` points:
    the standard shape-preserving reduction before charting/inspection
    of billions of raw points. First and last points are always kept;
    each interior bucket contributes the point forming the largest
    triangle with the previously selected point and the next bucket's
    centroid.

    One shuffle on the series key; each series runs in one Arrow batch
    (visualization series fit by construction — n_out and the raw
    series both bound well under executor memory; pre-aggregate first
    for series that don't). Deterministic: ties take the earliest
    point.
    """
    if n_out < 3:
        raise ValueError("lttb_downsample needs n_out >= 3 "
                         "(first + last + at least one bucket)")
    import pandas as pd

    out_schema = series.select(key_col, ts_col, val_col).schema

    def lttb(_key, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(ts_col, kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        if n <= n_out:
            return pdf[[key_col, ts_col, val_col]]
        x = pdf[ts_col].astype("int64").to_numpy(dtype=np.float64)
        y = pdf[val_col].to_numpy(dtype=np.float64)
        # n_out-2 interior buckets over points 1..n-2
        bounds = np.linspace(1, n - 1, n_out - 1).astype(np.int64)
        selected = [0]
        prev = 0
        for b in range(n_out - 2):
            lo, hi = bounds[b], bounds[b + 1]
            nxt_lo, nxt_hi = hi, (bounds[b + 2] if b + 2 <= n_out - 2
                                  else n - 1)
            if nxt_hi <= nxt_lo:
                nxt_hi = nxt_lo + 1
            cx = x[nxt_lo:nxt_hi].mean() if nxt_hi > nxt_lo else x[n - 1]
            cy = y[nxt_lo:nxt_hi].mean() if nxt_hi > nxt_lo else y[n - 1]
            if hi <= lo:
                continue
            ax, ay = x[prev], y[prev]
            areas = np.abs((ax - cx) * (y[lo:hi] - ay)
                           - (ax - x[lo:hi]) * (cy - ay))
            pick = lo + int(areas.argmax())   # argmax -> earliest on tie
            selected.append(pick)
            prev = pick
        selected.append(n - 1)
        return pdf.iloc[selected][[key_col, ts_col, val_col]]

    return (series.select(key_col, ts_col, val_col)
            .groupBy(key_col)
            .applyInPandas(lttb, schema=out_schema))


def rolling_zscore(events: DataFrame, ts_col: str = "ts",
                   key_col: str = "event_type",
                   trailing: int = 24, min_periods: int = 12) -> DataFrame:
    """Per-series hourly-count anomaly score: (key, bucket_start, n,
    zscore) where zscore compares each hour's event count with the
    TRAILING ``trailing``-bucket window (current bucket excluded) —
    the standard streaming-ops traffic-anomaly probe.

    zscore is NULL until ``min_periods`` trailing buckets exist or when
    the trailing counts are constant (zero variance). The arithmetic is
    engine-portable: trailing mean/variance come from exact integer
    sums (n*sum_sq - sum^2), divisions in doubles, rounded to 6dp.

    Scale shape: ONE bucket aggregation (map-side combined) then ONE
    window partitioned by the series key — hourly buckets are ~9k rows
    per series-year, so each window partition is bounded regardless of
    raw event volume. No global window, no driver state.
    """
    hourly = (events
              .select(F.col(key_col).alias("key"),
                      F.date_trunc("hour", F.col(ts_col))
                      .alias("bucket_start"))
              .groupBy("key", "bucket_start")
              .agg(F.count(F.lit(1)).alias("n")))
    w = (W.partitionBy("key").orderBy("bucket_start")
         .rowsBetween(-trailing, -1))
    t_n = F.count("n").over(w)
    t_sum = F.sum("n").over(w)
    t_sumsq = F.sum(F.col("n") * F.col("n")).over(w)
    mean = t_sum.cast("double") / t_n
    # population variance from exact integer sums: (n*Σx² − (Σx)²)/n²
    var = ((t_n * t_sumsq - t_sum * t_sum).cast("double")
           / (t_n * t_n).cast("double"))
    z = F.when((t_n >= min_periods) & (var > 0),
               F.round((F.col("n") - mean) / F.sqrt(var), 6))
    return (hourly.select("key", "bucket_start", "n", z.alias("zscore")))


def funnel_counts(events: DataFrame, stages: Sequence[str],
                  ts_col: str = "ts", user_col: str = "user_id",
                  type_col: str = "event_type") -> DataFrame:
    """Ordered-funnel analysis: (stage_idx, stage, n_users, conversion)
    — how many users performed stage k STRICTLY AFTER their first
    completion of stage k-1, and the fraction relative to stage 1
    (the product analytics staple Spark lacks MATCH_RECOGNIZE for).

    Semantics: t_1(u) = min ts of a stage-1 event; t_k(u) = min ts of a
    stage-k event with ts > t_{k-1}(u). A user reaches stage k iff t_k
    exists — ties at the exact same timestamp do NOT advance the
    funnel (strict ordering, deterministic under any partitioning).

    Plan shape: the event stream is filtered to funnel stages (map-only
    shrink), then each stage is one min-aggregation keyed by user
    joined back on user_id — k-1 joins all on the SAME key, so one
    hash partitioning is reused; per-stage outputs are single-row
    aggregates unioned at the end (driver never sees per-user data).
    """
    ev = (events.select(F.col(user_col).alias("u"),
                        F.col(type_col).alias("et"),
                        F.col(ts_col).alias("t"))
          .filter(F.col("et").isin(*stages)))
    reached = (ev.filter(F.col("et") == stages[0])
               .groupBy("u").agg(F.min("t").alias("tk")))
    per_stage = [reached]
    for stage in stages[1:]:
        nxt = (ev.filter(F.col("et") == stage)
               .join(per_stage[-1], "u")
               .filter(F.col("t") > F.col("tk"))
               .groupBy("u").agg(F.min("t").alias("tk")))
        per_stage.append(nxt)
    base = per_stage[0].agg(F.count(F.lit(1)).alias("n0"))
    outs = []
    for k, (stage, df) in enumerate(zip(stages, per_stage), start=1):
        outs.append(df.agg(F.count(F.lit(1)).alias("n_users"))
                    .crossJoin(F.broadcast(base))
                    .select(F.lit(k).cast("long").alias("stage_idx"),
                            F.lit(stage).alias("stage"),
                            F.col("n_users").cast("long").alias("n_users"),
                            F.round(F.col("n_users")
                                    / F.greatest(F.col("n0"), F.lit(1)), 6)
                            .alias("conversion")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def rolling_active_users(events: DataFrame, window_days: int = 7,
                         ts_col: str = "ts",
                         user_col: str = "user_id") -> DataFrame:
    """Trailing-window distinct actives per day — the DAU/WAU/MAU
    metric: (day, n_active) where n_active = distinct users with any
    event in the ``window_days`` days ending at ``day``.

    Sliding distinct counts can't ride a window function (DISTINCT
    isn't frame-mergeable), so the standard shape: dedupe to (user,
    day) FIRST (one agg — collapses raw volume to user-day), explode
    each activity day into the <= ``window_days`` windows it serves
    (bounded fan-out = window/slide ratio), then one distinct-count per
    window day. Windows after the last observed day are dropped.
    At MAU scale (30x fan-out) switch the last agg to HLL
    (approx_count_distinct) — same plan, sketchable.
    """
    day = F.date_trunc("day", F.col(ts_col))
    user_days = (events.select(F.col(user_col).alias("u"),
                               day.alias("d")).distinct())
    top = user_days.agg(F.max("d").alias("max_d"))
    serves = F.explode(F.expr(
        f"sequence(d, d + INTERVAL {int(window_days) - 1} DAYS, "
        f"INTERVAL 1 DAY)"))
    return (user_days
            .select("u", serves.alias("day"))
            .join(F.broadcast(top), F.col("day") <= F.col("max_d"))
            .groupBy("day")
            .agg(F.countDistinct("u").cast("long").alias("n_active"))
            .select(F.col("day").cast("timestamp").alias("day"),
                    "n_active"))


def retention_cohorts(events: DataFrame, max_offset_days: int = 7,
                      ts_col: str = "ts",
                      user_col: str = "user_id") -> DataFrame:
    """Cohort retention: (cohort_day, offset_days, n_active, retention)
    — for each first-activity cohort, the fraction of its users active
    again ``offset_days`` later (offset 0 is the cohort itself,
    retention 1.0 by construction). The product-analytics staple next
    to funnels.

    Shape: raw events collapse to (user, day) once; the per-user
    first-day (cohort) is one min-aggregation joined back on user_id
    (same key — partitioning reused); per-(cohort, offset) distinct
    actives and cohort sizes are two further keyed aggregations. All
    shuffles carry user/day pairs, never raw events.
    """
    day = F.date_trunc("day", F.col(ts_col))
    ud = (events.select(F.col(user_col).alias("u"), day.alias("d"))
          .distinct())
    first = ud.groupBy("u").agg(F.min("d").alias("cohort"))
    act = (ud.join(first, "u")
           .withColumn("offset_days",
                       F.datediff(F.col("d"), F.col("cohort")))
           .filter(F.col("offset_days") <= max_offset_days))
    ret = (act.groupBy("cohort", "offset_days")
           .agg(F.countDistinct("u").alias("n_active")))
    sizes = first.groupBy("cohort").agg(F.count(F.lit(1))
                                        .alias("cohort_size"))
    return (ret.join(sizes, "cohort")
            .select(F.col("cohort").cast("timestamp").alias("cohort_day"),
                    F.col("offset_days").cast("long").alias("offset_days"),
                    F.col("n_active").cast("long").alias("n_active"),
                    F.round(F.col("n_active")
                            / F.col("cohort_size"), 6).alias("retention")))


def sessionize(events: DataFrame, gap_minutes: float = 30,
               ts_col: str = "ts",
               user_col: str = "user_id") -> DataFrame:
    """Gap-based batch sessionization: (user_id, session_id, n_events,
    session_start, session_end) — a new session starts when the idle
    gap since the user's previous event exceeds ``gap_minutes`` (the
    classic lag -> new-session flag -> cumulative-sum formulation, ONE
    shuffle on the user key; streaming/events.sessionize_stateful is
    the incremental twin, plans/queries.q_events_sessionize the
    dual-formulation gate).

    Deterministic under timestamp ties: tied events have gap 0, which
    never opens a session, so session boundaries and numbering do not
    depend on the tie order.
    """
    gap_us = int(gap_minutes * 60 * 1_000_000)
    by_user = W.partitionBy(user_col).orderBy(ts_col)
    ev = (events
          .withColumn("__prev_us",
                      F.lag(F.unix_micros(F.col(ts_col))).over(by_user))
          .withColumn("__new", F.when(
              F.col("__prev_us").isNull()
              | (F.unix_micros(F.col(ts_col)) - F.col("__prev_us")
                 > gap_us), F.lit(1)).otherwise(F.lit(0)))
          .withColumn("session_id", F.sum("__new").over(
              by_user.rowsBetween(W.unboundedPreceding, 0))))
    return (ev.groupBy(user_col, "session_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.min(ts_col).alias("session_start"),
                 F.max(ts_col).alias("session_end"))
            .select(F.col(user_col), F.col("session_id").cast("long")
                    .alias("session_id"), "n_events",
                    "session_start", "session_end"))
