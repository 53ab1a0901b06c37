"""Data-layout operators: write-side clustering for scan pruning.

At 100 TB, scan cost is dominated by how much data a query can SKIP.
Parquet readers prune row groups (and whole files) from footer min/max
statistics — but only if the writer clustered values so ranges are
tight and disjoint. ``write_range_clustered`` is the standard recipe:
repartitionByRange on the clustering keys (one range of the key space
per output file — Spark samples the key distribution, so skew spreads)
then sortWithinPartitions (tight row-group stats inside each file).
A predicate on the leading key then touches ~1/N of the files instead
of all of them.

Reference parity note: the reference delegates all writes to Spark and
has no layout control (SURVEY.md §2.2); part of the scale-engineering
extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _write_parquet_micros(df: DataFrame, path: str, mode: str) -> None:
    """Parquet write with timestamps forced to TIMESTAMP_MICROS (INT96
    carries no parquet min/max stats, so clustering on an INT96 column
    would be unprunable); the session conf is restored afterwards."""
    spark = df.sparkSession
    key = "spark.sql.parquet.outputTimestampType"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try:
        df.write.mode(mode).parquet(path)
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def write_range_clustered(df: DataFrame, path: str, cols: list[str],
                          n_files: int = 16, mode: str = "overwrite") -> None:
    """Write ``df`` as parquet range-clustered on ``cols``: ~one key
    range per file, rows sorted within each file so row-group min/max
    stats are tight. ``n_files`` sizes output files — at scale pick
    total_bytes / target_file_size (128-1024 MB files).

    Timestamps are forced to TIMESTAMP_MICROS for the write: Spark's
    default INT96 encoding carries NO parquet min/max statistics, so a
    table clustered on an INT96 timestamp is unprunable — the layout
    work would buy nothing.
    """
    _write_parquet_micros(
        df.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols),
        path, mode)


def file_column_ranges(path: str, column: str) -> list[tuple]:
    """Per-file (min, max) of ``column`` from parquet footer statistics
    (`file_stats.footer_stats`) — the exact information a reader prunes
    with. Driver-side metadata read only (no data scan); used to verify
    clustering quality. Only top-level columns have ranges, so a dotted
    (nested) name is an error; a file some of whose row groups carry no
    exact bound has no range and is left out."""
    import glob
    import os

    from lightning_metastore_spark.sources.file_stats import footer_stats

    if "." in column:
        raise ValueError(
            f"file_column_ranges: {column!r} is not a top-level column")
    out = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        c = (footer_stats(f) or (0, {}))[1].get(column)
        if c is not None and c.lo is not None and c.hi is not None:
            out.append((c.lo, c.hi))
    return out


def write_training_shards(df: DataFrame, path: str, n_shards: int = 16,
                          seed: str = "0", id_col: str = "doc_id",
                          mode: str = "overwrite") -> None:
    """Export a curated corpus as ``n_shards`` parquet shards in a
    DETERMINISTIC pseudo-random order — the global-shuffle step before
    training (dataloaders then read shards sequentially; the shuffle
    already happened at write time, reproducibly).

    Order and shard assignment both derive from ``md5(seed || id)``:
    repartitionByRange on the hash gives ~equal shards (hash output is
    uniform, so range boundaries split evenly — no hot shard even if
    ids are skewed), sortWithinPartitions fixes intra-shard order.
    Changing ``seed`` reshuffles; the same seed reproduces the exact
    same bytes — re-runs of a training pipeline see the identical data
    order (the property checkpoint-resume depends on).

    100 TB shape: one range shuffle, no driver involvement; ``n_shards``
    = total_bytes / target_file_size like write_range_clustered.
    """
    from pyspark.sql import functions as F

    keyed = df.withColumn(
        "__shuffle_key",
        F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))))
    (keyed.repartitionByRange(n_shards, "__shuffle_key")
     .sortWithinPartitions("__shuffle_key")
     .drop("__shuffle_key")
     .write.mode(mode).parquet(path))


def write_zorder_clustered(df: DataFrame, path: str, cols: list[str],
                           n_files: int = 16, bits: int = 6,
                           mode: str = "overwrite") -> None:
    """Write parquet Z-ORDER clustered on 2+ columns: each column maps
    to a ``bits``-bit QUANTILE bucket (approxQuantile boundaries, so
    skewed distributions still fill all buckets), the bucket bits
    interleave into one Morton key, and files are range-partitioned on
    that key. Every file then covers a small hyper-rectangle of the
    multi-column space — predicates on ANY clustered column prune
    files, where range clustering only serves its leading column
    (the Delta OPTIMIZE ZORDER BY recipe, built from public
    primitives).

    100 TB shape: ONE driver-side approxQuantile pass for ALL columns
    (the multi-column sketch overload — one scan regardless of column
    count), then a map-only Morton key expression and ONE range
    shuffle — same cost as write_range_clustered. Everything is a JVM
    when-chain + bit arithmetic; no UDFs.
    """
    from pyspark.sql import functions as F

    if len(cols) < 2:
        raise ValueError("write_zorder_clustered needs >= 2 columns — "
                         "use write_range_clustered for one")
    if bits * len(cols) > 63:
        # JVM shiftleft masks the shift amount mod 64 — positions past
        # 63 would silently alias low bits and corrupt the key
        raise ValueError(
            f"bits ({bits}) x columns ({len(cols)}) must fit a signed "
            "int64 Morton key (<= 63 bit positions) — lower bits or "
            "cluster on fewer columns")
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    all_bounds = df.approxQuantile(list(cols), probs, 1.0 / (4 * n_buckets))
    zparts = []
    for ci, c in enumerate(cols):
        bounds = sorted(set(all_bounds[ci]))
        bucket = F.lit(0)
        for b in bounds:
            bucket = bucket + F.when(F.col(c) > F.lit(b), 1).otherwise(0)
        # interleave: bit k of column ci lands at position k*len(cols)+ci
        for k in range(bits):
            zparts.append(
                F.shiftleft(F.shiftrightunsigned(bucket.cast("long"), k)
                            .bitwiseAND(F.lit(1)),
                            k * len(cols) + ci))
    z = zparts[0]
    for p in zparts[1:]:
        z = z + p
    out = (df.withColumn("__z", z)
           .repartitionByRange(n_files, "__z")
           .sortWithinPartitions("__z")
           .drop("__z"))
    _write_parquet_micros(out, path, mode)


def compact_parquet(spark, path: str, out_path: str,
                    target_mb: int = 128) -> dict:
    """Small-file compaction: rewrite a parquet directory into files of
    ~``target_mb`` each — the maintenance job every long-running
    ingest pipeline needs (streaming sinks and incremental batches
    accumulate KB-sized files whose open/footer overhead eventually
    dominates scans).

    The output file count comes from the INPUT'S on-disk bytes (summed
    driver-side from the file listing — metadata only, no data read),
    so the sizing is stable regardless of in-memory row width. Listing
    goes through the Hadoop FileSystem API, so any Spark-readable
    scheme (s3a://, hdfs://, file://, bare local paths) sizes
    correctly; an empty listing raises instead of silently rewriting
    everything into one file. One round-robin repartition (the only
    shuffle) spreads rows evenly; callers who need clustering should
    follow with ``write_range_clustered``/``write_zorder_clustered``
    instead. Returns {"n_input_files", "input_mb", "n_output_files"}.
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    # missing and empty paths report uniformly as ValueError — without
    # this a nonexistent path surfaces as a raw Py4J FileNotFoundException
    # from fs.listFiles
    if not fs.exists(hpath):
        raise ValueError(
            f"compact_parquet: no .parquet files under {path!r} — "
            "path does not exist")
    it = fs.listFiles(hpath, True)
    n_files, total = 0, 0
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            n_files += 1
            total += st.getLen()
    if n_files == 0:
        raise ValueError(
            f"compact_parquet: no .parquet files under {path!r} — "
            "refusing to size output from an empty listing")
    n_out = max(1, round(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    _write_parquet_micros(df.repartition(n_out), out_path, "overwrite")
    return {"n_input_files": n_files,
            "input_mb": round(total / 1024 / 1024, 3),
            "n_output_files": n_out}


def table_stats(df: DataFrame, columns: list[str] | None = None,
                exact: bool = False) -> DataFrame:
    """ANALYZE-style per-column statistics — the metastore catalog
    relation every cost-based decision reads: one row per column with
    (col_id, col_name, n_rows, n_nulls, ndv, min_val, max_val), min/max
    rendered as strings AFTER the native-type min/max (so numeric
    columns order numerically, and one schema serves every type).

    ``exact=False`` (the 100 TB default) uses approx_count_distinct —
    a single-pass mergeable HLL sketch, so the whole relation costs
    ONE scan with a scalar aggregate per column and no shuffle wider
    than the final single-row merge. ``exact=True`` swaps in
    count(DISTINCT) — Spark plans one Expand over the scan (cost
    grows with column count); it exists for oracle verification and
    small dimension tables, not for fact-scale runs.

    The aggregate row lands on the driver as ONE row of scalars and
    is re-emitted as the stats relation — driver-sized by
    construction at any corpus size.
    """
    from pyspark.sql import functions as F

    cols = columns or df.columns
    ndv = F.count_distinct if exact else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            # coalesce: F.sum over ZERO rows is NULL — an empty table
            # (e.g. just-created) must yield n_nulls=0, not a TypeError
            F.coalesce(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)),
                       F.lit(0)).alias(f"__nn_{c}"),
            ndv(F.col(c)).alias(f"__d_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    row = df.agg(*aggs).first()
    out = [(i, c, int(row["__n"]), int(row[f"__nn_{c}"]),
            int(row[f"__d_{c}"]), row[f"__mn_{c}"], row[f"__mx_{c}"])
           for i, c in enumerate(cols)]
    return df.sparkSession.createDataFrame(
        out, "col_id long, col_name string, n_rows long, n_nulls long, "
             "ndv long, min_val string, max_val string")
