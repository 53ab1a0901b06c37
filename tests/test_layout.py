"""Range-clustered write layout tests: footer stats must actually
enable file-level skipping."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from lightning_metastore_spark.operators.layout import (  # noqa: E402
    file_column_ranges, write_range_clustered)

from tests.conftest import SF_DIR  # noqa: E402


def test_range_clustered_write_produces_disjoint_ranges(spark, tmp_path):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    out = str(tmp_path / "li_clustered")
    write_range_clustered(li, out, ["l_shipdate"], n_files=8)

    back = spark.read.parquet(out)
    assert back.count() == li.count()

    ranges = sorted(file_column_ranges(out, "l_shipdate"))
    assert len(ranges) >= 4
    # consecutive file ranges must not interleave (boundary value may be
    # shared): that is what lets a shipdate predicate skip whole files
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert lo_next >= hi_prev
    # and a point query's value range lands in a strict subset of files
    probe = ranges[len(ranges) // 2][0]
    containing = [r for r in ranges if r[0] <= probe <= r[1]]
    assert len(containing) < len(ranges) / 2

    # correctness under the clustered layout
    expect = li.filter(f"l_shipdate >= '{probe}'").count()
    assert back.filter(f"l_shipdate >= '{probe}'").count() == expect

    # ranges are per top-level column: a nested path is refused rather
    # than answered with no ranges
    with pytest.raises(ValueError, match="top-level"):
        file_column_ranges(out, "l_shipdate.x")


def test_write_training_shards_deterministic_and_balanced(spark, tmp_path):
    """Same seed -> byte-identical order across runs; different seed ->
    different order; shards stay balanced under skewed ids; every row
    survives exactly once."""
    import glob

    from lightning_metastore_spark.operators.layout import (
        write_training_shards)

    # skewed id space: snowflake-style sparse ids
    rows = [(i * 1_000_003 + 17, f"doc {i}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    p1, p2, p3 = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "c")
    write_training_shards(df, p1, n_shards=8, seed="s1")
    write_training_shards(df, p2, n_shards=8, seed="s1")
    write_training_shards(df, p3, n_shards=8, seed="s2")

    def read_order(p):
        files = sorted(glob.glob(p + "/part-*.parquet"))
        out = []
        for f in files:
            out.extend(r.doc_id for r in spark.read.parquet(f).collect())
        return files, out

    f1, o1 = read_order(p1)
    _, o2 = read_order(p2)
    _, o3 = read_order(p3)
    assert o1 == o2                      # same seed reproduces exactly
    assert o1 != o3                      # new seed reshuffles
    assert sorted(o1) == sorted(r[0] for r in rows)  # lossless
    sizes = [len(spark.read.parquet(f).collect()) for f in f1]
    assert len(sizes) == 8 and min(sizes) >= 400 // 8 // 4  # no hot shard


def test_write_zorder_clustered_prunes_both_columns(spark, tmp_path):
    """Z-order layout: every file covers a small bounding box in BOTH
    clustered dimensions, so predicates on either column skip most
    files — where range clustering only serves its leading column."""
    import random

    from lightning_metastore_spark.operators.layout import (
        file_column_ranges, write_range_clustered, write_zorder_clustered)

    rng = random.Random(5)
    rows = [(i, rng.randint(0, 99_999), rng.randint(0, 99_999))
            for i in range(20_000)]
    df = spark.createDataFrame(rows, "id long, x long, y long")

    zp, rp = str(tmp_path / "z"), str(tmp_path / "r")
    write_zorder_clustered(df, zp, ["x", "y"], n_files=16)
    write_range_clustered(df, rp, ["x"], n_files=16)

    def avg_span(path, col):
        ranges = file_column_ranges(path, col)
        return sum(hi - lo for lo, hi in ranges) / len(ranges)

    full = 100_000
    # both dimensions tight under z-order (16 files ~ 4x4 grid -> each
    # box ~1/4 of each axis; allow slack for quantile estimation)
    assert avg_span(zp, "x") < full * 0.45
    assert avg_span(zp, "y") < full * 0.45
    # range clustering: leading column tight, trailing column unpruned
    assert avg_span(rp, "x") < full * 0.15
    assert avg_span(rp, "y") > full * 0.9


def test_write_zorder_requires_two_columns(spark, tmp_path):
    import pytest

    from lightning_metastore_spark.operators.layout import (
        write_zorder_clustered)

    df = spark.range(10)
    with pytest.raises(ValueError):
        write_zorder_clustered(df, str(tmp_path / "x"), ["id"])


def test_compact_parquet_hits_target_count(spark, tmp_path):
    from lightning_metastore_spark.operators.layout import compact_parquet

    src = str(tmp_path / "fragmented")
    # 40 tiny files
    spark.range(40000).selectExpr("id", "repeat('x', 64) AS pad") \
        .repartition(40).write.parquet(src)
    out = str(tmp_path / "compacted")
    stats = compact_parquet(spark, src, out, target_mb=1)
    assert stats["n_input_files"] == 40
    import glob
    produced = glob.glob(out + "/*.parquet")
    assert len(produced) == stats["n_output_files"] < 10
    # lossless
    a = spark.read.parquet(src).orderBy("id").collect()
    b = spark.read.parquet(out).orderBy("id").collect()
    assert a == b


def test_compact_parquet_empty_listing_raises(spark, tmp_path):
    """No parquet under the input path must raise, not silently size
    the output from total=0 (one-file rewrite of the whole dataset)."""
    import pytest

    from lightning_metastore_spark.operators.layout import compact_parquet

    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(ValueError, match="no .parquet files"):
        compact_parquet(spark, str(empty), str(tmp_path / "out"))


def test_table_stats_matches_python_twin(spark):
    """Exact mode equals a brute-force Python model (counts, nulls,
    NDV, string-rendered min/max); approx mode agrees on everything
    but NDV, where the sketch must be within 5% on this cardinality."""
    from lightning_metastore_spark.operators.layout import table_stats

    rows = [(1, "b", None), (2, "a", 1.5), (3, "a", -2.0),
            (4, None, 1.5), (5, "c", None), (6, "a", 0.0)]
    df = spark.createDataFrame(rows, "id long, s string, v double")
    got = {r.col_name: (r.n_rows, r.n_nulls, r.ndv, r.min_val, r.max_val)
           for r in table_stats(df, exact=True).collect()}

    def twin(vals):
        nn = [v for v in vals if v is not None]
        return (len(vals), len(vals) - len(nn), len(set(nn)),
                min(str(v) for v in nn) if nn else None,
                max(str(v) for v in nn) if nn else None)

    assert got["id"] == twin([r[0] for r in rows])
    assert got["s"] == twin([r[1] for r in rows])
    # doubles render via Spark's cast; compare numerics, not strings
    n, nn, ndv, mn, mx = got["v"]
    assert (n, nn, ndv) == (6, 2, 3)
    assert float(mn) == -2.0 and float(mx) == 1.5

    ax = {r.col_name: r for r in table_stats(df).collect()}
    for c in ("id", "s", "v"):
        assert (ax[c].n_rows, ax[c].n_nulls) == (got[c][0], got[c][1])
        assert abs(ax[c].ndv - got[c][2]) <= max(1, 0.05 * got[c][2])
    # column subset + ordering contract
    sub = table_stats(df, columns=["v", "id"], exact=True).collect()
    assert [r.col_name for r in sorted(sub, key=lambda r: r.col_id)] \
        == ["v", "id"]


def test_table_stats_empty_table(spark):
    """ANALYZE over a just-created (zero-row) table must yield
    n_rows=0 / n_nulls=0 / ndv=0 with NULL min/max — not a TypeError
    from summing zero rows (r11 ADVICE)."""
    from lightning_metastore_spark.operators.layout import table_stats

    df = spark.createDataFrame([], "id long, s string")
    for exact in (False, True):
        got = {r.col_name: r for r in table_stats(df, exact=exact).collect()}
        assert set(got) == {"id", "s"}
        for c in ("id", "s"):
            r = got[c]
            assert (r.n_rows, r.n_nulls, r.ndv) == (0, 0, 0)
            assert r.min_val is None and r.max_val is None
