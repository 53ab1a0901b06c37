"""Structured Streaming over event sources — an extension surface.

The reference has NO streaming operators (SURVEY.md §2.7: its only
touchpoint is reading a streaming sink's `_spark_metadata`); this module
is part of the driver-mandated extension: the same event analytics the
batch library exposes (plans/queries.py q_events_*), expressed as
incremental Structured Streaming programs.

Design for scale: watermarked windowed aggregation keeps state bounded
(late events beyond the watermark are dropped); the stateful
sessionizer uses applyInPandasWithState so per-user session state lives
in the state store, shuffled once on user_id — the standard pattern for
billions of keys.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_SCHEMA = ("event_id bigint, ts timestamp, user_id bigint, "
                 "event_type string, value double, props string")


_TS_ENCODING_CACHE: dict = {}  # (applicationId, path) -> bool (ts_is_nanos)


def read_event_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int = 16,
                      ts_encoding: str | None = None) -> DataFrame:
    """File-source event stream (new parquet files appear in `path`).
    Timestamps are normalized to microseconds like session.load_tables.

    The physical ts encoding is sniffed from a batch read of the existing
    files (readStream needs a declared schema up front): TIMESTAMP(NANOS)
    parquet surfaces as bigint under nanosAsLong and is truncated to
    micros; TIMESTAMP(MICROS) parquet reads natively. The sniff is ONE
    driver-side footer read, cached per path; pass ts_encoding
    ('nanos'|'micros') to skip it — required when the directory is still
    empty at stream start (default then: micros). All files under `path`
    must share one physical ts encoding: the schema is fixed at stream
    definition, so a mixed directory fails (nanos file under a micros
    schema) or misparses (micros under nanos) mid-stream."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # cache keyed by (applicationId, path) — a NEW Spark app reusing the
    # path (possibly after the files were rewritten in the other
    # encoding) re-sniffs; dead-app entries are purged so the cache
    # never outgrows one app's paths (mirrors _cached_df in
    # plans/pipeline_queries.py)
    app_id = spark.sparkContext.applicationId
    for k in [k for k in _TS_ENCODING_CACHE if k[0] != app_id]:
        del _TS_ENCODING_CACHE[k]
    cache_key = (app_id, path)
    if ts_encoding is not None:
        ts_is_nanos = ts_encoding == "nanos"
    elif cache_key in _TS_ENCODING_CACHE:
        ts_is_nanos = _TS_ENCODING_CACHE[cache_key]
    else:
        try:
            ts_is_nanos = (dict(spark.read.parquet(path).dtypes)
                           .get("ts") == "bigint")
            _TS_ENCODING_CACHE[cache_key] = ts_is_nanos
        except Exception:  # empty dir: no footer to sniff; don't cache
            ts_is_nanos = False
    schema = (EVENTS_SCHEMA.replace("ts timestamp", "ts bigint")
              if ts_is_nanos else EVENTS_SCHEMA)
    raw = (spark.readStream
           .schema(schema)
           .option("maxFilesPerTrigger", str(max_files_per_trigger))
           .parquet(path))
    if ts_is_nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          slide: str | None = None,
                          watermark: str = "2 hours") -> DataFrame:
    """Tumbling (or sliding, when `slide` differs) windowed counts with a
    watermark bounding state: the streaming twin of q_events_hourly."""
    w = (F.window("ts", window, slide) if slide else F.window("ts", window))
    return (events
            .withWatermark("ts", watermark)
            .groupBy(w.alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0)
                 .alias("sum_value"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "event_type", "n_events", "sum_value"))


_SESSION_GAP_US = 30 * 60 * 1_000_000
_SESSION_STATE_SCHEMA = "last_us long, n_sessions long, n_events long"
_SESSION_OUT_SCHEMA = ("user_id long, n_sessions long, n_events long")


def _sessionize_group(key, pdf_iter: Iterable[pd.DataFrame],
                      state: GroupState):
    """Per-user incremental session counting (30-min gap), state =
    (last event micros, sessions so far, events so far)."""
    (user_id,) = key
    if state.exists:
        last_us, n_sessions, n_events = state.get
    else:
        last_us, n_sessions, n_events = None, 0, 0
    # concatenate ALL chunks before sorting: a user whose batch spans
    # multiple Arrow chunks would otherwise be sorted per-chunk, counting
    # sessions across out-of-order chunk boundaries
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if chunks:
        all_events = pd.concat(chunks).sort_values("ts")
        for ts in all_events["ts"]:
            us = int(ts.value) // 1000  # pandas Timestamp ns -> us
            if last_us is None or us - last_us > _SESSION_GAP_US:
                n_sessions += 1
            last_us = us
            n_events += 1
    state.update((last_us, n_sessions, n_events))
    yield pd.DataFrame([{"user_id": user_id, "n_sessions": n_sessions,
                         "n_events": n_events}])


def sessionize_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    session counts that survive across micro-batches."""
    return (events
            .groupBy("user_id")
            .applyInPandasWithState(
                _sessionize_group,
                outputStructType=_SESSION_OUT_SCHEMA,
                stateStructType=_SESSION_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def attribution_interval_join(clicks: DataFrame, purchases: DataFrame,
                              watermark: str = "2 hours",
                              attribution_window_min: int = 30) -> DataFrame:
    """Stream-stream interval join: click -> purchase attribution.

    Each purchase joins the same user's clicks that happened in the
    ``attribution_window_min`` minutes before it — the canonical
    stream-stream use case. Both sides carry watermarks and the join
    condition bounds event time on both inputs, so Spark can expire
    state: click state is held for watermark + window, purchase state
    for the watermark — bounded regardless of stream length. The join
    shuffles both streams once on user_id.

    Works identically on batch DataFrames (the batch twin is the test
    oracle): the join condition is pure Catalyst, only the watermarks
    are stream-specific (no-ops in batch mode).
    """
    c = (clicks.filter(F.col("event_type") == "click")
         .withWatermark("ts", watermark)
         .select(F.col("user_id").alias("c_user"),
                 F.col("event_id").alias("click_id"),
                 F.col("ts").alias("click_ts")))
    p = (purchases.filter(F.col("event_type") == "purchase")
         .withWatermark("ts", watermark)
         .select(F.col("user_id").alias("p_user"),
                 F.col("event_id").alias("purchase_id"),
                 F.col("ts").alias("purchase_ts"),
                 F.col("value").alias("purchase_value")))
    cond = ((F.col("c_user") == F.col("p_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts")
               - F.expr(f"INTERVAL {attribution_window_min} MINUTES")))
    return (c.join(p, cond)
            .select(F.col("p_user").alias("user_id"), "click_id",
                    "purchase_id", "click_ts", "purchase_ts",
                    "purchase_value"))


def start_idempotent_parquet_sink(stream_df: DataFrame, path: str,
                                  checkpoint: str):
    """Exactly-once parquet sink via foreachBatch: each micro-batch
    overwrites its own `batch=<id>` directory, so a batch replayed
    after a failure (foreachBatch is at-least-once) lands in the same
    place instead of duplicating — idempotence + the checkpoint's
    offset tracking give end-to-end exactly-once. The standard
    production sink pattern for sinks without transactional support.

    Returns the StreamingQuery handle; the caller owns stop()."""
    from pyspark.sql import functions as _F

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.withColumn("_batch_id", _F.lit(batch_id))
         .write.mode("overwrite")
         .parquet(f"{path}/batch={batch_id}"))

    return (stream_df.writeStream
            .foreachBatch(_write_batch)
            .option("checkpointLocation", checkpoint)
            .start())


def start_exactly_once_delta_sink(stream_df: DataFrame, path: str,
                                  checkpoint: str,
                                  app_id: str = "lightning-stream"):
    """Exactly-once DELTA sink via the protocol's SetTransaction
    handshake — the mechanism real Delta streaming sinks use instead
    of per-batch directory tricks. Each micro-batch appends through
    the offline writer with txn=(app_id, batch_id); a replayed batch
    (foreachBatch is at-least-once) finds its batch id already
    recorded in the log (`last_txn_version`) and SKIPS the commit, so
    rows never duplicate, and the guard survives log compaction
    because checkpoints carry the latest txn per appId. At 100 TB
    this is how continuous ingest lands in the lakehouse without a
    dedup pass: idempotent commits + the stream checkpoint's offset
    tracking give end-to-end exactly-once.

    Returns the StreamingQuery handle; the caller owns stop()."""
    from lightning_metastore_spark.sources import delta_reader as dr

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        last = dr.last_txn_version(spark, path, app_id)
        if last is not None and last >= int(batch_id):
            return  # replay of an already-committed batch
        dr.write_delta(batch_df, path, mode="append",
                       txn=(app_id, int(batch_id)))

    return (stream_df.writeStream
            .foreachBatch(_write_batch)
            .option("checkpointLocation", checkpoint)
            .start())


def start_exactly_once_iceberg_sink(stream_df: DataFrame, path: str,
                                    checkpoint: str,
                                    app_id: str = "lightning-stream"):
    """Exactly-once ICEBERG sink (r17) — the Delta sink's twin via
    snapshot-summary commit tracking (the mechanism Flink's Iceberg
    sink uses with `flink.max-committed-checkpoint-id`): each
    micro-batch appends through the offline writer with
    `streaming-app-id`/`streaming-batch-id` summary keys; a replayed
    batch (foreachBatch is at-least-once) finds its id at or below
    `last_streaming_batch` and SKIPS, so rows never duplicate. On an
    upsert-mode table (identifier fields + `write.upsert.enabled`)
    the append routes through the equality-delete upsert with the
    same mark — an exactly-once STREAMING UPSERT sink, the Flink
    changelog-ingest shape. Returns the StreamingQuery handle; the
    caller owns stop()."""
    from lightning_metastore_spark.sources import iceberg_writer as iw

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = iw.last_streaming_batch(path, app_id)
        if last is not None and last >= int(batch_id):
            return  # replay of an already-committed batch
        iw.write_iceberg(batch_df, path, mode="append",
                         summary_extra={
                             "streaming-app-id": app_id,
                             "streaming-batch-id": int(batch_id)})

    return (stream_df.writeStream
            .foreachBatch(_write_batch)
            .option("checkpointLocation", checkpoint)
            .start())


def consume_table_changes(spark: SparkSession, src_path: str,
                          sink_path: str,
                          app_id: str = "lightning-cdf-consumer") -> int:
    """One exactly-once Change-Data-Feed consumption step: read the
    source Delta table's feed (`delta_reader.table_changes`) from the
    version AFTER the last one this consumer committed, append the
    change rows to the sink Delta table, and record the consumed
    high-water mark as a SetTransaction on the SINK in the SAME commit
    — so a crash/replay at any point either finds the mark (skips) or
    re-runs the whole step atomically. The downstream half of the CDF
    story: at 100 TB a replica stays current by consuming only the
    commits it missed, never diffing snapshots. Returns the number of
    source commits consumed (0 = already current)."""
    from lightning_metastore_spark.sources import delta_reader as dr

    last = dr.last_txn_version(spark, sink_path, app_id)
    src = dr.resolve_snapshot(spark, src_path)
    start = 0 if last is None else int(last) + 1
    if start > src.version:
        return 0
    changes = dr.table_changes(spark, src_path, starting_version=start,
                               ending_version=src.version)
    dr.write_delta(changes, sink_path, mode="append",
                   txn=(app_id, src.version))
    return src.version - start + 1


def consume_iceberg_changes(spark: SparkSession, src_path: str,
                            sink_path: str,
                            app_id: str = "lightning-cl-consumer"
                            ) -> int:
    """One exactly-once Iceberg CHANGELOG consumption step (r17) —
    `consume_table_changes`' Iceberg twin: read the source table's
    changelog (`iceberg_reader.iceberg_changelog`) strictly after
    the last snapshot this consumer committed, append the change
    rows to the sink Iceberg table, and record the consumed
    high-water mark in the SAME commit's snapshot summary
    (`streaming-batch-id` = the source snapshot id) — a crash/replay
    either finds the mark (skips) or re-runs the step atomically. At
    100 TB a replica stays current by reading only the changed files
    of the snapshots it missed. Returns the number of source
    snapshots consumed (0 = already current)."""
    from lightning_metastore_spark.sources import (
        iceberg_reader as irm,
        iceberg_writer as iw,
    )

    meta = irm.load_metadata(src_path)
    cur = meta.get("current-snapshot-id")
    if cur is None:
        return 0
    last = iw.last_streaming_batch(sink_path, app_id)
    if last is not None and int(last) == int(cur):
        return 0
    changes = irm.iceberg_changelog(
        spark, src_path,
        from_snapshot_id=None if last is None else int(last))
    n_snaps = changes.select("_snapshot_id").distinct().count()
    iw.write_iceberg(changes, sink_path, mode="append",
                     summary_extra={"streaming-app-id": app_id,
                                    "streaming-batch-id": int(cur)})
    return int(n_snaps)


def start_memory_stream(stream_df: DataFrame, query_name: str,
                        output_mode: str = "update"):
    """Start (without draining) a memory-sink query; returns the handle.
    Independent streams started together drain concurrently — wall time
    becomes the max, not the sum, of their micro-batch work."""
    return (stream_df.writeStream.format("memory")
            .queryName(query_name).outputMode(output_mode).start())


def run_to_memory(stream_df: DataFrame, query_name: str,
                  output_mode: str = "update") -> None:
    """Drain all available input into an in-memory table (test harness)."""
    q = start_memory_stream(stream_df, query_name, output_mode)
    q.processAllAvailable()
    q.stop()


_FUNNEL_STATE_SCHEMA = "k long, last_us long"
_FUNNEL_OUT_SCHEMA = "user_id long, stage_reached long, stage_us long"


def funnel_stateful(events: DataFrame,
                    stages: tuple = ("view", "click", "purchase")) -> DataFrame:
    """Streaming ordered-funnel via applyInPandasWithState: per-user
    furthest stage whose events occurred in strict ts order — the
    incremental twin of operators/temporal.funnel_counts.

    State is two numbers per user (stage index + the chain's last event
    micros): processing events in timestamp order, the first stage-k+1
    event strictly after t_k IS the batch semantics' min — so under
    ts-ordered arrival (the sessionizer's documented assumption; late
    events would need per-stage buffers) the final state equals the
    batch funnel exactly, which the batch-equivalence test asserts
    across multi-batch ingestion.
    """
    stage_list = list(stages)

    def group_fn(key, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
        (user_id,) = key
        k, last_us = state.get if state.exists else (0, 0)
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            ev = pd.concat(chunks).sort_values("ts")
            for ts, et in zip(ev["ts"], ev["event_type"]):
                if k >= len(stage_list):
                    break
                us = int(ts.value) // 1000
                if et == stage_list[k] and (k == 0 or us > last_us):
                    k += 1
                    last_us = us
        state.update((k, last_us))
        yield pd.DataFrame([{"user_id": user_id, "stage_reached": k,
                             "stage_us": last_us}])

    return (events
            .filter(F.col("event_type").isin(*stage_list))
            .groupBy("user_id")
            .applyInPandasWithState(
                group_fn,
                outputStructType=_FUNNEL_OUT_SCHEMA,
                stateStructType=_FUNNEL_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


_ZSCORE_STATE_SCHEMA = "hours array<long>, counts array<long>"
_ZSCORE_OUT_SCHEMA = ("key string, bucket_start timestamp, n long, "
                      "zscore double")


def rolling_zscore_stateful(events: DataFrame, trailing: int = 24,
                            min_periods: int = 12) -> DataFrame:
    """Streaming twin of operators/temporal.rolling_zscore: per-series
    hourly-count anomaly scores maintained incrementally via
    applyInPandasWithState.

    State per series is the trailing ``trailing``+1 observed
    hourly-bucket counts (bounded — older buckets are pruned as newer
    ones arrive), so memory never grows with stream length. Each micro-batch merges its hourly
    counts into the state and re-emits rows for every hour it touched;
    under ts-ordered arrival the LATEST emission per (key, hour) equals
    the batch operator exactly (asserted by the batch-equivalence
    test). A late event whose hour is STILL WITHIN the retained
    trailing+1 buckets updates that hour's count and re-emits its
    corrected score (update-mode semantics downstream); an event for
    an hour already pruned from state restarts that hour's count from
    zero — the correction guarantee is scoped to the retention
    horizon, matching the ts-ordered-arrival assumption. Keep a
    longer ``trailing`` than the expected lateness if stragglers
    beyond that horizon must stay exact.

    The arithmetic is the batch operator's: trailing mean/variance from
    exact integer sums over the window EXCLUDING the current hour, NULL
    until ``min_periods`` trailing buckets exist or variance is zero.
    """
    def group_fn(key, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
        (etype,) = key
        if state.exists:
            hours, counts = state.get
            hist = dict(zip(hours, counts))
        else:
            hist = {}
        touched = set()
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            hour_us = (pdf["ts"].astype("int64") // 1000) \
                // 3_600_000_000 * 3_600_000_000
            for h, c in hour_us.value_counts().items():
                h = int(h)
                hist[h] = hist.get(h, 0) + int(c)
                touched.add(h)
        # emit BEFORE pruning: a wide batch can touch hours older
        # than the retention horizon whose windows need the unpruned
        # map. The window is ROW-based — the trailing ``trailing``
        # OBSERVED buckets before h (matching the batch operator's
        # ROWS BETWEEN frame), not clock hours.
        full_ks = sorted(hist)
        rows = []
        for h in sorted(touched):
            idx = full_ks.index(h)
            window = [hist[p] for p in full_ks[max(0, idx - trailing):idx]]
            z = None
            t_n = len(window)
            if t_n >= min_periods:
                t_sum = sum(window)
                t_sumsq = sum(c * c for c in window)
                num = t_n * t_sumsq - t_sum * t_sum
                if num > 0:
                    mean = t_sum / t_n
                    var = num / (t_n * t_n)
                    z = round((hist[h] - mean) / (var ** 0.5), 6)
            rows.append({"key": etype,
                         "bucket_start": pd.Timestamp(h, unit="us"),
                         "n": hist[h], "zscore": z})
        # prune state: only the last ``trailing``+1 OBSERVED buckets
        # can serve any window at or after the newest hour
        ks = sorted(hist)[-(trailing + 1):]
        state.update((ks, [hist[h] for h in ks]))
        yield (pd.DataFrame(rows,
                            columns=["key", "bucket_start", "n", "zscore"])
               if rows else
               pd.DataFrame({"key": pd.Series(dtype="object"),
                             "bucket_start":
                             pd.Series(dtype="datetime64[us]"),
                             "n": pd.Series(dtype="int64"),
                             "zscore": pd.Series(dtype="float64")}))

    return (events
            .groupBy("event_type")
            .applyInPandasWithState(
                group_fn,
                outputStructType=_ZSCORE_OUT_SCHEMA,
                stateStructType=_ZSCORE_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


_HH_STATE_SCHEMA = ("items array<string>, counts array<long>, "
                    "errs array<long>, total long")
_HH_OUT_SCHEMA = ("grp int, item string, est long, err long, "
                  "grp_total long")


def heavy_hitters_stateful(items: DataFrame, s: float = 0.02,
                           item_col: str = "item",
                           n_groups: int = 32) -> DataFrame:
    """Streaming heavy hitters: a Space-Saving summary maintained in
    the state store — the incremental twin of
    operators/heavy_hitters.heavy_hitters.

    Items hash into ``n_groups`` state groups (all occurrences of an
    item land in ONE group, so an item with global frequency >= s*N has
    in-group share >= s — the pigeonhole guarantee survives the
    partitioning, and the group count is the parallelism knob). Each
    group's state is a ceil(1/s)+1-counter Space-Saving summary
    (Metwally et al.): bounded memory per group regardless of stream
    cardinality or length. Every micro-batch folds its items into the
    summary and re-emits the group's full counter table
    (grp, item, est, err, grp_total) in update mode — ``est`` is the
    overestimate, ``est - err`` the guaranteed lower bound, and
    summing ``grp_total`` over the latest emission per group gives N
    for thresholding downstream (keep est >= s*N; exact when the
    summary never evicted, superset-with-bounds otherwise — the same
    sketch-then-verify split as the batch operator, with the verify
    half living wherever the consumer can afford an exact recount).
    """
    if not 0.0 < s < 1.0:
        raise ValueError("heavy_hitters_stateful: s must be in (0, 1)")
    capacity = int(1.0 / s) + 1

    keyed = items.select(
        (F.abs(F.xxhash64(F.col(item_col).cast("string")))
         % n_groups).cast("int").alias("grp"),
        F.col(item_col).cast("string").alias("item"))

    def group_fn(key, pdf_iter: Iterable[pd.DataFrame],
                 state: GroupState):
        (grp,) = key
        if state.exists:
            its, cnts, errs, total = state.get
            summary = {i: [int(c), int(e)]
                       for i, c, e in zip(its, cnts, errs)}
            total = int(total)
        else:
            summary, total = {}, 0
        for pdf in pdf_iter:
            for v in pdf["item"]:
                total += 1
                if v in summary:
                    summary[v][0] += 1
                elif len(summary) < capacity:
                    summary[v] = [1, 0]
                else:
                    # evict the minimum (deterministic tie-break),
                    # inherit its count as the new item's error bound
                    mk = min(summary,
                             key=lambda k: (summary[k][0], str(k)))
                    mc = summary.pop(mk)[0]
                    summary[v] = [mc + 1, mc]
        ks = sorted(summary)
        state.update((ks, [summary[k][0] for k in ks],
                      [summary[k][1] for k in ks], total))
        yield pd.DataFrame(
            {"grp": grp, "item": ks,
             "est": [summary[k][0] for k in ks],
             "err": [summary[k][1] for k in ks],
             "grp_total": total}) if ks else pd.DataFrame(
            {"grp": pd.Series(dtype="int32"),
             "item": pd.Series(dtype="object"),
             "est": pd.Series(dtype="int64"),
             "err": pd.Series(dtype="int64"),
             "grp_total": pd.Series(dtype="int64")})

    return (keyed.groupBy("grp")
            .applyInPandasWithState(
                group_fn,
                outputStructType=_HH_OUT_SCHEMA,
                stateStructType=_HH_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))
