"""Deduplication operators for large-scale text corpora.

Five strategies, all expressed as shuffles-on-keys DataFrame programs
(no cross joins except the small brute-force baselines, no driver-side
loops, no Python in the hot path — every hash is a JVM expression):

- exact:            normalize -> groupBy(text) -> keep min doc_id
- n-gram Jaccard:   shingle explode -> equi-join on shingle -> count ratio
- MinHash + LSH:    shingle -> k minhashes -> band buckets -> candidate
                    equi-join -> exact-Jaccard verify
- SimHash:          token hash bit aggregation -> fingerprint -> chunk
                    (hamming-LSH) buckets -> bit_count verify -> exact verify
- embedding cosine: pairwise cosine >= threshold (brute force baseline;
                    the IVF/LSH scale path lives in operators/similarity.py)

Scale design (100 TB): MinHash/SimHash candidate generation is linear in
corpus size with shuffle keys of bounded fan-in (band buckets / bit
chunks). The only quadratic step — verification — runs per candidate
pair only. High-document-frequency shingles can be dropped via
``max_shingle_df`` to bound the worst-case bucket join (stop-shingle
skew), mirroring what production near-dup pipelines do.

Determinism: hash functions are md5-based JVM expressions with fixed
seeded coefficients, so results are reproducible across any cluster
layout and partitioning.

Reference parity note: the reference has no dedup operators (it delegates
all queries to Spark, SURVEY.md §2.7); this family is part of the
driver-mandated LLM-pipeline extension surface.
"""

from __future__ import annotations

import random
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 2^31-1, Mersenne prime: (a*h + b) mod P stays in int64 because the base
# hash is truncated to 28 bits (7 hex chars of md5) and a < 2^31.
_MERSENNE_P = 2_147_483_647
_H_BITS = 7  # hex chars of md5 used for the base shingle hash (28 bits)


def _hash_coefficients(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P))
            for _ in range(num_hashes)]


def tokens(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, token array) — lowercased whitespace tokenization, JVM-side."""
    return docs.select(
        F.col(id_col),
        F.split(F.lower(F.col(text_col)), r"\s+").alias("toks"),
    )


def shingles(docs: DataFrame, n: int = 3, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles, one row per (doc, shingle).

    Built entirely with collection expressions (sequence/transform/slice)
    so shingling stays inside whole-stage codegen — no UDF.
    """
    toks = tokens(docs, text_col, id_col)
    # arrays_zip over n shifted slices instead of a per-position slice
    # lambda — one slice call per offset, ~4x faster at 260k shingles.
    zip_args = ", ".join(f"slice(toks, {i + 1}, m)" for i in range(n))
    concat_args = ", ' ', ".join(f"s['{i}']" for i in range(n))
    shingled = (
        toks.withColumn("m", F.size("toks") - (n - 1))
        .select(
            F.col(id_col),
            F.when(
                F.col("m") >= 1,
                F.expr(f"transform(arrays_zip({zip_args}), "
                       f"s -> concat({concat_args}))"),
            ).otherwise(F.expr("array(concat_ws(' ', toks))")).alias("shingle_arr"),
        )
    )
    return (shingled
            .select(F.col(id_col), F.explode("shingle_arr").alias("shingle"))
            .distinct())


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", normalize: bool = True) -> DataFrame:
    """Exact dedup: keep the smallest id per (normalized) text.

    One hash-aggregation shuffle on the text hash. For 100 TB inputs,
    group on md5(text) rather than the full text to keep shuffle rows
    small; collision probability is negligible (2^-128 per pair).
    """
    key = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")) \
        if normalize else F.col(text_col)
    return (docs
            .select(F.col(id_col), F.md5(key).alias("text_key"))
            .groupBy("text_key")
            .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
            .select(id_col, "dup_count"))


def _shingle_counts(sh: DataFrame, id_col: str) -> DataFrame:
    return sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))


def shingle_intersections(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-pair shingle intersection counts over every co-occurring doc
    pair: (doc_id_a, doc_id_b, n_common). The single expensive self
    equi-join of the exact-Jaccard family — callers that need it more
    than once (exact pairs + LSH verifies) should compute it once,
    persist, and pass it through."""
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_id_a"),
                 F.col(f"b.{id_col}").alias("doc_id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def jaccard_pairs(docs: DataFrame, threshold: float = 0.5, n: int = 3,
                  text_col: str = "text", id_col: str = "doc_id",
                  max_shingle_df: int | None = None,
                  sh: DataFrame | None = None,
                  inter: DataFrame | None = None) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs: (id_a, id_b, jaccard).

    Plan: explode shingles -> self equi-join on shingle (the shuffle key)
    -> per-pair intersection count -> |A ∪ B| = |A| + |B| - |A ∩ B|.
    ``max_shingle_df`` drops shingles appearing in more than that many
    docs — bounds the fan-out of hot shingles at scale. Pass a prebuilt
    (persisted) ``sh`` to amortize shingling across operators, and a
    prebuilt ``inter`` (shingle_intersections of the SAME unfiltered sh)
    to amortize the intersection join too; ``inter`` is ignored when
    ``max_shingle_df`` filters the shingle universe.
    """
    if sh is None:
        sh = shingles(docs, n, text_col, id_col)
    if max_shingle_df is not None:
        sdf = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sh = (sh.join(sdf.filter(F.col("df") <= max_shingle_df).select("shingle"),
                      "shingle"))
        inter = None  # the cached intersections cover the unfiltered universe
    # counts AFTER the df filter so the Jaccard denominator matches the
    # filtered shingle universe the numerator is computed over
    counts = _shingle_counts(sh, id_col)
    if inter is None:
        inter = shingle_intersections(sh, id_col)
    inter = inter.select(F.col("doc_id_a").alias("id_a"),
                         F.col("doc_id_b").alias("id_b"), "n_common")
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        inter.join(ca, "id_a").join(cb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_a").alias("doc_id_a"), F.col("id_b").alias("doc_id_b"),
                F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_signatures(sh: DataFrame, num_hashes: int = 64,
                       id_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Per-doc MinHash signature as ``num_hashes`` min-aggregated columns.

    Base hash: 28 bits of xxhash64(shingle) — JVM-native, fixed seed,
    no hex round-trip; family: h_i(x) = (a_i * x + b_i) mod 2^31-1.
    One aggregation pass computes every signature slot (map-side
    partial mins keep the shuffle tiny).
    """
    coeffs = _hash_coefficients(num_hashes, seed)
    base = F.xxhash64("shingle").bitwiseAND(F.lit((1 << (_H_BITS * 4)) - 1))
    with_h = sh.select(F.col(id_col), base.alias("h"))
    mins = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_MERSENNE_P))).alias(f"mh_{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return with_h.groupBy(id_col).agg(*mins)


def minhash_band_buckets(sig: DataFrame, num_hashes: int = 64,
                         bands: int = 16,
                         id_col: str = "doc_id") -> DataFrame:
    """(id, band, bucket) LSH bucket entries from a signature relation —
    the persistable index of MinHash dedup. A production corpus stores
    THIS (and its signatures) so later batches dedup against the corpus
    without re-shingling it (see ``incremental_minhash_pairs``)."""
    rows_per_band = num_hashes // bands
    band_entries = F.array(*[
        F.struct(
            F.lit(bi).alias("band"),
            F.hash(*[F.col(f"mh_{bi * rows_per_band + r}")
                     for r in range(rows_per_band)]).alias("bucket"),
        )
        for bi in range(bands)
    ])
    return (sig.select(F.col(id_col), F.explode(band_entries).alias("be"))
            .select(id_col, F.col("be.band").alias("band"),
                    F.col("be.bucket").alias("bucket")))


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.5,
                      num_hashes: int = 64, bands: int = 16, n: int = 3,
                      text_col: str = "text", id_col: str = "doc_id",
                      seed: int = 42, sh: DataFrame | None = None,
                      sig: DataFrame | None = None,
                      counts: DataFrame | None = None) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-verified: (doc_id_a, doc_id_b, jaccard).

    16 bands x 4 rows: P[candidate] = 1-(1-s^4)^16 — ~1e-7 miss rate at
    s=0.9, so verified output equals the exact-Jaccard answer while doing
    ~linear work. Candidate generation shuffles on (band, bucket); the
    exact verify joins shingles only for candidate pairs. Pass prebuilt
    (persisted) ``sh`` and/or ``sig`` (minhash_signatures of that sh,
    SAME num_hashes/seed) to amortize across operators — signatures are
    the corpus artifact incremental dedup reuses.
    """
    if sh is None:
        sh = shingles(docs, n, text_col, id_col)
    if sig is None:
        sig = minhash_signatures(sh, num_hashes, id_col, seed)
    buckets = minhash_band_buckets(sig, num_hashes, bands, id_col)
    ba, bb = buckets.alias("a"), buckets.alias("b")
    candidates = (
        ba.join(bb, (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("doc_id_a"),
                F.col(f"b.{id_col}").alias("doc_id_b"))
        .distinct()
    )
    return _verify_pairs_jaccard(candidates, sh, threshold, id_col,
                                 counts=counts)


def incremental_minhash_pairs(batch: DataFrame, corpus_sh: DataFrame,
                              corpus_sig: DataFrame, threshold: float = 0.5,
                              num_hashes: int = 64, bands: int = 16,
                              n: int = 3, text_col: str = "text",
                              id_col: str = "doc_id", seed: int = 42,
                              corpus_counts: DataFrame | None = None,
                              batch_sh: DataFrame | None = None,
                              batch_sig: DataFrame | None = None
                              ) -> DataFrame:
    """New-batch-vs-corpus near-dup pairs WITHOUT rescanning the corpus:
    (batch_id, corpus_id, jaccard >= threshold).

    The streaming-ingestion shape of MinHash dedup: the corpus is
    represented purely by its persisted artifacts — the shingle relation
    and the signature index (``minhash_signatures`` with the SAME
    num_hashes/seed as the batch side) — so admitting a new batch costs
    O(batch + candidates), never O(corpus). At 100 TB the corpus bucket
    table lives partitioned by (band, bucket) and the small batch bucket
    list BROADCASTS against it (hinted below — the corpus side never
    shuffles); the exact-Jaccard verify touches corpus shingles only for
    candidate docs. Batch and corpus id spaces must be disjoint (enforce
    upstream); a doc present in both joins to itself and is excluded by
    the id inequality. Pass prebuilt ``batch_sh``/``batch_sig`` (and
    ``corpus_counts``) when persisted relations already cover the batch
    — per-doc artifacts subset exactly.
    """
    if batch_sh is None:
        batch_sh = shingles(batch, n, text_col, id_col)
    if batch_sig is None:
        batch_sig = minhash_signatures(batch_sh, num_hashes, id_col, seed)
    bb = minhash_band_buckets(batch_sig, num_hashes, bands, id_col)
    cb = minhash_band_buckets(corpus_sig, num_hashes, bands, id_col)
    candidates = (
        cb.alias("c").join(
            F.broadcast(bb.alias("nw")),
            (F.col("c.band") == F.col("nw.band"))
            & (F.col("c.bucket") == F.col("nw.bucket"))
            & (F.col(f"c.{id_col}") != F.col(f"nw.{id_col}")))
        .select(F.col(f"nw.{id_col}").alias("batch_id"),
                F.col(f"c.{id_col}").alias("corpus_id"))
        .distinct())
    nb = _shingle_counts(batch_sh, id_col).select(
        F.col(id_col).alias("batch_id"), F.col("n_shingles").alias("n_a"))
    if corpus_counts is None:
        corpus_counts = _shingle_counts(corpus_sh, id_col)
    nc = corpus_counts.select(
        F.col(id_col).alias("corpus_id"), F.col("n_shingles").alias("n_b"))
    # count-ratio prefilter (jaccard >= t implies min/max >= t), then
    # exact verify restricted to surviving candidate pairs
    sized = (candidates.join(nb, "batch_id").join(nc, "corpus_id")
             .filter(F.least("n_a", "n_b") / F.greatest("n_a", "n_b")
                     >= F.lit(threshold)))
    sa = batch_sh.select(F.col(id_col).alias("batch_id"), "shingle")
    sb = corpus_sh.select(F.col(id_col).alias("corpus_id"), "shingle")
    inter = (sized.join(sa, "batch_id").join(sb, ["corpus_id", "shingle"])
             .groupBy("batch_id", "corpus_id", "n_a", "n_b")
             .agg(F.count(F.lit(1)).alias("n_common")))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (inter.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("batch_id", "corpus_id",
                    F.round("jaccard", 6).alias("jaccard")))


def _verify_pairs_jaccard(pairs: DataFrame, sh: DataFrame, threshold: float,
                          id_col: str, strategy: str = "pairwise",
                          inter: DataFrame | None = None,
                          counts: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard restricted to candidate pairs.

    strategy='pairwise' (default): pairs x shingles join — per-pair work;
    right when candidates are few (MinHash at a selective threshold).
    strategy='shingle-join': shingle equi-join intersections semi-joined
    against the candidate set — right when the candidate set is a large
    fraction of all similar-ish pairs (SimHash on short-vocabulary
    corpora, where hamming separates poorly), because the equi-join
    enumerates only genuinely-overlapping pairs. Pass a prebuilt
    (persisted) ``inter`` = shingle_intersections(sh) to skip the
    equi-join entirely, and/or a prebuilt ``counts`` =
    _shingle_counts(sh) — broadcast-hint it when the doc count is small
    enough, so the (possibly huge) candidate stream is never shuffled
    just to learn each side's shingle count.
    """
    if counts is None:
        counts = _shingle_counts(sh, id_col)
    ca = counts.select(F.col(id_col).alias("doc_id_a"), F.col("n_shingles").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("doc_id_b"), F.col("n_shingles").alias("n_b"))
    # count-ratio prefilter: jaccard >= t implies min/max >= t
    sized = (pairs.join(ca, "doc_id_a").join(cb, "doc_id_b")
             .filter(F.least("n_a", "n_b") / F.greatest("n_a", "n_b")
                     >= F.lit(threshold)))
    if strategy == "shingle-join":
        if inter is None:
            inter = shingle_intersections(sh, id_col)
        inter = inter.join(sized, ["doc_id_a", "doc_id_b"])
    else:
        sa = sh.select(F.col(id_col).alias("doc_id_a"), F.col("shingle"))
        sb = sh.select(F.col(id_col).alias("doc_id_b"), F.col("shingle"))
        inter = (sized.join(sa, "doc_id_a").join(sb, ["doc_id_b", "shingle"])
                 .groupBy("doc_id_a", "doc_id_b", "n_a", "n_b")
                 .agg(F.count(F.lit(1)).alias("n_common")))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (inter
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("doc_id_a", "doc_id_b", F.round("jaccard", 6).alias("jaccard")))


def _span_hashes(docs: DataFrame, k: int, text_col: str,
                 id_col: str) -> DataFrame:
    """(id, pos, gh) — every positional k-token window hashed to
    xxhash64 BEFORE anything shuffles (8-byte keys; the raw span text
    never reaches an exchange). Docs shorter than k tokens contribute
    their whole text as the single window at pos 0. Shared by the
    scorer, the excision operator, and the incremental span index."""
    toks = tokens(docs, text_col, id_col)
    zip_args = ", ".join(f"slice(toks, {i + 1}, m)" for i in range(k))
    concat_args = ", ' ', ".join(f"s['{i}']" for i in range(k))
    return (
        toks.withColumn("m", F.size("toks") - (k - 1))
        .select(
            F.col(id_col),
            F.when(
                F.col("m") >= 1,
                F.expr(f"transform(arrays_zip({zip_args}), "
                       f"s -> concat({concat_args}))"),
            ).otherwise(F.expr("array(concat_ws(' ', toks))"))
            .alias("g_arr"))
        .select(F.col(id_col), F.posexplode("g_arr").alias("pos", "g"))
        .select(F.col(id_col), "pos", F.xxhash64("g").alias("gh")))


def corpus_dup_spans(docs: DataFrame, k: int = 5, text_col: str = "text",
                     id_col: str = "doc_id",
                     sp: DataFrame | None = None) -> DataFrame:
    """Cross-document exact-substring duplication signal (the
    Lee-et-al-style "deduplicating training data" span statistic):
    (doc_id, n_spans, n_dup_spans, dup_span_frac).

    Every k-token window (span) of every document is hashed; a span is
    duplicated when its token sequence occurs more than once in the
    WHOLE corpus (other docs or elsewhere in the same doc).
    ``dup_span_frac`` is the per-doc fraction of duplicated spans — the
    score exact-substring dedup pipelines threshold on before cutting.

    Scale: positional k-grams explode to ~tokens-per-doc rows, then the
    span TEXT is immediately collapsed to ``xxhash64`` (8-byte key)
    before anything shuffles — the corpus-wide occurrence count is one
    hash aggregation on that 64-bit key (map-side combined), rejoined
    on the same key, then one per-doc aggregate; the raw ~k*word-size
    span strings never reach an exchange (same hash-not-text discipline
    as ``cdc_dup_stats``). A 64-bit collision would misclassify a
    single span — immaterial for a dup-fraction statistic. Same shuffle
    shape as TF-IDF. Docs shorter than k tokens contribute their whole
    text as one span (consistent with ``shingles``).
    """
    # ``sp`` = a prebuilt (id, pos, gh) span-hash relation (the shared
    # corpus artifact — same prebuilt-input contract as simhash_pairs'
    # sh/fp): callers running several span operators over one corpus
    # build the fan-out once and pass it through.
    spans = (sp if sp is not None
             else _span_hashes(docs, k, text_col, id_col)).drop("pos")
    occ = spans.groupBy("gh").agg(F.count(F.lit(1)).alias("occ"))
    return (spans.join(occ, "gh")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_spans"),
                 F.sum(F.when(F.col("occ") > 1, 1).otherwise(0))
                 .cast("long").alias("n_dup_spans"))
            .select(F.col(id_col), "n_spans", "n_dup_spans",
                    F.round(F.col("n_dup_spans") / F.col("n_spans"), 6)
                    .alias("dup_span_frac")))


def remove_dup_spans(docs: DataFrame, k: int = 5, min_occ: int = 2,
                     text_col: str = "text",
                     id_col: str = "doc_id",
                     sp: DataFrame | None = None) -> DataFrame:
    """Excise corpus-duplicated k-token spans from every document — the
    REMOVAL step of exact-substring training-data dedup
    (``corpus_dup_spans`` scores the duplication; this operator cuts
    it): (doc_id, clean_text, n_tokens, n_removed, removed_frac).

    A span is duplicated when its token sequence occurs at least
    ``min_occ`` times corpus-wide (counting every occurrence, same doc
    or not); every token covered by at least one duplicated window is
    removed and the survivors re-joined with single spaces. Output text
    is in normalized token space (lowercased, whitespace-collapsed) —
    the SAME normalization detection uses, so removal and detection
    cannot disagree. Docs shorter than ``k`` tokens form one whole-text
    window; a duplicated short doc empties entirely.

    Scale shape: the identical hashed-span shuffle as
    ``corpus_dup_spans`` (xxhash64 8-byte keys — span text never
    reaches an exchange), the occurrence filter joined back to the
    POSITIONAL span stream, one per-doc collect of duplicated window
    starts (bounded by the doc's own token count), then one Arrow pass
    doing an O(tokens + starts) difference-array excision per doc. No
    all-pairs step anywhere; every agg/join keys on the span hash or
    the doc id.
    """
    import pandas as pd

    toks = tokens(docs, text_col, id_col)
    # ``sp`` = a prebuilt (id, pos, gh) span-hash relation (the shared
    # corpus artifact); when given, only the tokenization is rebuilt
    # here (the excision pass needs the token arrays themselves).
    spans = (sp if sp is not None
             else _span_hashes(docs, k, text_col, id_col))
    dup = (spans.groupBy("gh").agg(F.count(F.lit(1)).alias("occ"))
           .filter(F.col("occ") >= min_occ).select("gh"))
    starts = (spans.join(dup, "gh")
              .groupBy(id_col)
              .agg(F.sort_array(F.collect_list("pos")).alias("starts")))
    joined = toks.select(id_col, "toks").join(starts, id_col, "left")

    def excise(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for rid, tk, st in zip(pdf[id_col], pdf["toks"],
                                   pdf["starts"]):
                tk = list(tk)
                n = len(tk)
                width = k if n >= k else n          # whole-doc window
                if st is None or len(st) == 0:
                    kept = tk
                else:
                    cover = np.zeros(n + 1, dtype=np.int64)
                    for s in st:
                        cover[s] += 1
                        cover[min(int(s) + width, n)] -= 1
                    covered = np.cumsum(cover[:n]) > 0
                    kept = [t for t, c in zip(tk, covered) if not c]
                n_removed = n - len(kept)
                rows.append({
                    id_col: int(rid),
                    "clean_text": " ".join(kept),
                    "n_tokens": n, "n_removed": n_removed,
                    "removed_frac": round(n_removed / n, 6) if n else 0.0})
            cols = [id_col, "clean_text", "n_tokens", "n_removed",
                    "removed_frac"]
            yield (pd.DataFrame(rows, columns=cols) if rows
                   else pd.DataFrame(columns=cols))

    return joined.mapInPandas(
        excise, schema=f"{id_col} long, clean_text string, "
                       "n_tokens long, n_removed long, "
                       "removed_frac double")


def span_index(docs: DataFrame, k: int = 5, text_col: str = "text",
               id_col: str = "doc_id",
               sp: DataFrame | None = None) -> DataFrame:
    """The persisted corpus artifact for incremental exact-substring
    dedup: (gh, occ) — every distinct positional k-gram's xxhash64 with
    its corpus-wide occurrence count. One span fan-out + one hash-keyed
    agg; at scale this lives partitioned by hash prefix next to the
    corpus, exactly like the MinHash signature and CDC chunk indexes.
    """
    return ((sp if sp is not None
             else _span_hashes(docs, k, text_col, id_col))
            .groupBy("gh").agg(F.count(F.lit(1)).cast("long")
                               .alias("occ")))


def span_batch_against_index(batch: DataFrame, index: DataFrame,
                             k: int = 5, max_dup_frac: float = 0.5,
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             sp: DataFrame | None = None) -> DataFrame:
    """Incremental span-level dedup of a NEW batch against a stored
    span index: (doc_id, n_spans, n_known_spans, known_frac, admit) —
    admit=false when more than ``max_dup_frac`` of a doc's k-token
    windows already exist in the corpus (a mostly-recycled page, the
    exact-substring analogue of ``cdc_batch_against_index``).

    The corpus is touched ZERO times: only its (gh, occ) index
    participates, and the batch's distinct span hashes BROADCAST into
    the index join, so admitting a batch is O(batch + hits) regardless
    of corpus size. Within-batch duplicated spans do not count as
    known — only corpus history rejects (intra-batch dup is
    ``corpus_dup_spans``' job on the batch itself).
    """
    if sp is None:
        sp = _span_hashes(batch, k, text_col, id_col)
    hits = (index.join(F.broadcast(sp.select("gh").distinct()), "gh")
            .select("gh"))
    per_doc = (sp.join(F.broadcast(hits.withColumn("_known", F.lit(1))),
                       "gh", "left")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_spans"),
                    F.sum(F.coalesce("_known", F.lit(0)))
                    .alias("n_known_spans")))
    known_frac = F.round(F.col("n_known_spans")
                         / F.greatest(F.col("n_spans"), F.lit(1)), 6)
    # per_doc is batch-row-bounded (one row per batch doc), so the
    # final reattach join broadcasts too — the whole operator plans
    # with zero sort-merge joins
    return (batch.select(id_col).distinct()
            .join(F.broadcast(per_doc), id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_spans", F.lit(0)).cast("long")
                    .alias("n_spans"),
                    F.coalesce("n_known_spans", F.lit(0)).cast("long")
                    .alias("n_known_spans"),
                    F.coalesce(known_frac, F.lit(0.0)).alias("known_frac"),
                    (F.coalesce(known_frac, F.lit(0.0))
                     <= F.lit(float(max_dup_frac))).alias("admit")))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits signed int64


def simhash_fingerprints(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash fingerprint per doc: (id, simhash).

    Token weight = term frequency. Per bit k, aggregate
    sum(weight * (bit_k ? 1 : -1)); fingerprint packs the sign bits.
    All 60 bit-sums run in ONE aggregation pass (map-side combine), so
    the shuffle carries 60 longs per doc regardless of doc length.
    """
    # Lane-packed bit aggregation: 3 bit-counters per 64-bit accumulator
    # (20 bits each), so 60 bit-sums need 20 aggregate columns instead of
    # 60 — measured ~6x faster than per-bit aggregates. sum(w*(2b-1)) ==
    # 2*sum(w*b) - sum(w) keeps everything branch-free. Lane headroom
    # bounds per-doc token count at 2^20 (~1M); widen lanes for longer
    # docs.
    #
    # ONE shuffle, not two: tf weighting needs no (doc, token) pre-
    # aggregation — sum over distinct tokens of tf*packed(token) equals
    # sum of packed(token) over raw occurrences, so occurrences feed the
    # doc-level aggregate directly and the map-side partial combine
    # collapses each partition to one row per doc before the exchange
    # (measured ~45% off fingerprint wall time at sf0.1).
    lanes, lane_bits = 3, 20
    n_cols = _SIMHASH_BITS // lanes
    mask = (1 << lane_bits) - 1

    toks = tokens(docs, text_col, id_col)
    occ = toks.select(F.col(id_col), F.explode("toks").alias("token"))
    # md5 (not xxhash64) as the token hash: measured on the sf0.1
    # corpus, xxhash-derived fingerprints cluster 3.6x more candidate
    # pairs inside the hamming radius (12.5k vs 3.5k), and the exact-
    # jaccard verify on the extra candidates costs more than the hex
    # round-trip saves. Hash choice shifts hamming geometry, not just
    # speed — benchmark before switching.
    h = F.conv(F.substring(F.md5("token"), 1, 15), 16, 10).cast("long")
    with_h = occ.select(F.col(id_col), h.alias("th"))
    aggs = []
    for j in range(n_cols):
        packed = None
        for lane in range(lanes):
            k = j * lanes + lane
            term = (F.shiftright(F.col("th"), k).bitwiseAND(1)
                    * F.lit(1 << (lane_bits * lane)))
            packed = term if packed is None else packed + term
        aggs.append(F.sum(packed).alias(f"p_{j}"))
    aggs.append(F.count(F.lit(1)).alias("w_total"))
    agg = with_h.groupBy(id_col).agg(*aggs)
    fp = None
    for k in range(_SIMHASH_BITS):
        j, lane = k // lanes, k % lanes
        a_k = F.shiftright(F.col(f"p_{j}"), lane_bits * lane).bitwiseAND(mask)
        term = F.when(2 * a_k - F.col("w_total") > 0,
                      F.lit(1 << k)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return agg.select(F.col(id_col), fp.cast("long").alias("simhash"))


# Web-scale SimHash parameterization (Manku et al., WWW'07 shape): wide
# chunks -> tiny buckets, tight hamming radius. Expected random-pair
# candidate probability 1-(1-2^-15)^4 ~= 1.2e-4 — the candidate join
# stays bucketed at any corpus size. Use for real (large-vocabulary)
# corpora where near-dups land within a few flipped bits.
SIMHASH_WEB_SCALE = {"chunks": 4, "hamming_max": 3}


def simhash_collision_probability(chunks: int) -> float:
    """Expected probability that a RANDOM pair collides in >=1 chunk
    bucket — the fraction of all n^2/2 pairs the candidate join will
    enumerate. Near 1.0 the join degenerates to all-pairs."""
    chunk_bits = _SIMHASH_BITS // chunks
    return 1.0 - (1.0 - 2.0 ** -chunk_bits) ** chunks


def simhash_pairs(docs: DataFrame, hamming_max: int = 4,
                  jaccard_threshold: float = 0.5, n: int = 3,
                  chunks: int = 5, text_col: str = "text",
                  id_col: str = "doc_id",
                  sh: DataFrame | None = None,
                  inter: DataFrame | None = None,
                  fp: DataFrame | None = None,
                  counts: DataFrame | None = None,
                  max_collision_prob: float = 0.05,
                  on_degenerate: str = "warn") -> DataFrame:
    """SimHash near-dup pairs, exact-verified: (doc_id_a, doc_id_b, jaccard).

    Hamming-LSH: split the 60-bit fingerprint into ``chunks`` chunks; by
    pigeonhole any pair within hamming distance < chunks shares at least
    one exact chunk, so candidate recall is guaranteed for
    hamming_max < chunks. Candidates shuffle on (chunk_idx, chunk_value);
    verify with bit_count(xor) then exact Jaccard.

    Scale guard: narrow chunks (high ``chunks`` over a fixed-width
    fingerprint) make random bucket collisions likely —
    ``simhash_collision_probability(chunks)`` estimates the enumerated
    pair fraction, and when it exceeds ``max_collision_prob`` the
    operator warns (``on_degenerate='warn'``) or refuses ('error'):
    at web scale that join is an accidental all-pairs. The scale-safe
    setting is ``SIMHASH_WEB_SCALE`` (4x15-bit chunks, hamming<=3);
    the defaults (5x12-bit chunks, hamming<=4, random-pair collision
    ~1.2e-3) sit safely under the guard — a default-arg call never
    warns, the guard fires only on explicitly degenerate chunking.

    Degenerate-chunking candidate path: when the guard trips (and the
    caller chose to proceed), the chunk index has stopped filtering —
    the bucket self-join enumerates ~p_collide of all n^2/2 pairs only
    to re-test the hamming gate it no longer narrows. In that regime
    candidates are derived from the verify's own shingle-intersection
    relation instead, filtered by the same hamming gate. Equivalence is
    unconditional, not a data assumption: (i) the chunk-index candidate
    set IS {a<b : hamming <= hamming_max} — the join condition tests
    the hamming gate directly, and pigeonhole (hamming_max < chunks,
    enforced above) guarantees every such pair shares a clean chunk and
    is enumerated; (ii) the shingle-join verify inner-joins candidates
    against the intersection relation, so pairs with zero shingle
    overlap never survive EITHER path; (iii) the intersection relation
    enumerates exactly the a<b pairs with overlap. Both paths therefore
    emit exactly {a<b : hamming <= hamming_max AND n_common > 0 AND
    jaccard >= threshold}.
    """
    if hamming_max >= chunks:
        raise ValueError(
            f"hamming_max={hamming_max} >= chunks={chunks}: pigeonhole "
            f"recall guarantee is void — a pair within the radius can "
            f"differ in every chunk and never become a candidate")
    p_collide = simhash_collision_probability(chunks)
    if p_collide > max_collision_prob:
        msg = (f"simhash_pairs(chunks={chunks}) has random-pair bucket "
               f"collision probability {p_collide:.2f} > "
               f"{max_collision_prob} — the candidate join approaches "
               f"all-pairs at scale. Use SIMHASH_WEB_SCALE "
               f"(chunks=4, hamming_max=3) for corpora that separate, or "
               f"route through minhash_lsh_pairs for weak separation.")
        if on_degenerate == "error":
            raise ValueError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    # checkpoint the (tiny) fingerprint relation: the bucket self-join
    # references it on both sides and would otherwise recompute the
    # whole bit-aggregation twice (~20% of pipeline time at sf0.1).
    # A prebuilt (persisted) fp skips the bit-aggregation entirely —
    # fingerprints, like MinHash signatures, are a reusable corpus
    # artifact.
    if fp is None:
        fp = simhash_fingerprints(docs, text_col, id_col) \
            .localCheckpoint(eager=False)
    if p_collide > max_collision_prob:
        # Degenerate chunking: skip the (near-all-pairs) bucket
        # self-join and gate the shingle-intersection pairs — computed
        # by the verify below in any case — on the identical hamming
        # predicate. See the docstring equivalence argument.
        if sh is None:
            sh = shingles(docs, n, text_col, id_col)
        if inter is None:
            # referenced twice (candidate gate + verify) — checkpoint
            # so the expensive intersection join runs once
            inter = shingle_intersections(sh, id_col) \
                .localCheckpoint(eager=False)
        fa = fp.select(F.col(id_col).alias("doc_id_a"),
                       F.col("simhash").alias("_fp_a"))
        fb = fp.select(F.col(id_col).alias("doc_id_b"),
                       F.col("simhash").alias("_fp_b"))
        candidates = (
            inter.select("doc_id_a", "doc_id_b")
            .join(fa, "doc_id_a").join(fb, "doc_id_b")
            .filter(F.bit_count(F.col("_fp_a").bitwiseXOR(F.col("_fp_b")))
                    <= hamming_max)
            .select("doc_id_a", "doc_id_b"))
        return _verify_pairs_jaccard(candidates, sh, jaccard_threshold,
                                     id_col, strategy="shingle-join",
                                     inter=inter, counts=counts)
    chunk_bits = _SIMHASH_BITS // chunks
    mask = (1 << chunk_bits) - 1
    entries = F.array(*[
        F.struct(F.lit(j).alias("ci"),
                 F.shiftright(F.col("simhash"), j * chunk_bits)
                 .bitwiseAND(mask).alias("cv"))
        for j in range(chunks)
    ])
    cb = (fp.select(F.col(id_col), F.col("simhash"), F.explode(entries).alias("e"))
          .select(id_col, "simhash", F.col("e.ci").alias("ci"), F.col("e.cv").alias("cv")))
    a, b = cb.alias("a"), cb.alias("b")
    # All predicates live IN the join condition: bucket-collision pairs
    # are enumerated inside the join operator and only survivors are
    # materialized. A pair colliding in m chunks would be emitted m
    # times; requiring the bucket's chunk index to equal the pair's
    # FIRST clean (equal) chunk makes every pair come out exactly once —
    # no m-fold intermediate, no follow-up distinct() shuffle. Combined
    # with the SHUFFLE_HASH hint (skips SMJ's sort of the exploded
    # chunk table) this took the sf0.1 candidate stage from 8.5s to
    # 1.2s at identical output.
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    first_clean = F.lit(None).cast("int")
    for j in range(chunks - 1, -1, -1):
        first_clean = F.when(
            F.shiftright(xor, j * chunk_bits).bitwiseAND(mask) == 0,
            F.lit(j)).otherwise(first_clean)
    candidates = (
        a.join(b.hint("SHUFFLE_HASH"),
               (F.col("a.ci") == F.col("b.ci")) & (F.col("a.cv") == F.col("b.cv"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
               & (F.bit_count(xor) <= hamming_max)
               & (F.col("a.ci") == first_clean))
        .select(F.col(f"a.{id_col}").alias("doc_id_a"),
                F.col(f"b.{id_col}").alias("doc_id_b"))
    )
    if sh is None:
        sh = shingles(docs, n, text_col, id_col)
    # SimHash's hamming gate separates weakly on small-vocabulary corpora
    # (candidates can be a large pair fraction) — the shingle-join verify
    # enumerates only truly-overlapping pairs instead of joining per
    # candidate. See _verify_pairs_jaccard.
    return _verify_pairs_jaccard(candidates, sh, jaccard_threshold, id_col,
                                 strategy="shingle-join", inter=inter,
                                 counts=counts)


def _cc_union_find(edge_rows, nodes: DataFrame, id_col: str) -> DataFrame:
    """Driver-side union-find over a collected edge list (small-graph
    fast path of connected_components).

    Union-by-min-root with path compression: when two roots merge, the
    smaller id becomes the parent, so every final root IS the minimum id
    of its component — bit-identical labels to the distributed
    min-label-propagation loop. Only nodes whose label differs from
    their own id ship back (the duplicate minority); everyone else gets
    their identity label from a broadcast left join.
    """
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        a, b = r[0], r[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    dup_labels = [(n, find(n)) for n in parent]
    dup_labels = [(n, c) for n, c in dup_labels if n != c]
    id_type = nodes.schema[id_col].dataType
    schema = T.StructType([T.StructField("_uf_node", id_type),
                           T.StructField("_uf_root", id_type)])
    mapping = nodes.sparkSession.createDataFrame(dup_labels, schema=schema)
    return (nodes.select(F.col(id_col))
            .join(F.broadcast(mapping), F.col(id_col) == F.col("_uf_node"),
                  "left")
            .select(F.col(id_col),
                    F.coalesce("_uf_root", F.col(id_col)).alias("cluster_id")))


def connected_components(pairs: DataFrame, nodes: DataFrame,
                         id_col: str = "doc_id",
                         max_iterations: int = 25,
                         driver_cutoff_edges: int = 5_000_000) -> DataFrame:
    """Duplicate-cluster assignment: (id, cluster_id) where cluster_id is
    the minimum id reachable through the near-dup pair graph.

    Adaptive execution. Verified near-dup graphs are sparse by
    construction (edges only between confirmed duplicates), so when the
    edge list fits the ``driver_cutoff_edges`` bound the labels come
    from a driver-side union-find — O(E α(E)), one Arrow collect, one
    broadcast join back — instead of paying the propagation loop's
    per-round join + count job overhead. The path decision is a cheap
    ``limit(cutoff+1).count()`` over the persisted edge list (never a
    wasted driver collect of an over-cutoff graph), and the collect
    itself is Arrow-batched ``toPandas`` (two primitive columns, ~16
    bytes/edge — not per-row Python Row objects). Above the bound,
    iterative min-label propagation runs (the 100 TB path): each round
    every node takes the min of its own and its neighbors' labels;
    converges in O(component diameter) rounds, one join + one
    aggregation per round, cached labels, zero-changes exit check.
    Both paths produce identical labels: cluster_id = min id in the
    component (union-find attaches the larger root under the smaller,
    so each final root IS the component minimum).
    """
    # persist the (possibly expensive) pair pipeline ONCE: the size
    # probe, the driver collect / distributed loop all reuse it
    sel = pairs.select("doc_id_a", "doc_id_b").persist()
    edges = None
    try:
        n_edges_capped = sel.limit(driver_cutoff_edges + 1).count()
        if n_edges_capped <= driver_cutoff_edges:
            spark = pairs.sparkSession
            arrow_key = "spark.sql.execution.arrow.pyspark.enabled"
            prior = spark.conf.get(arrow_key, None)
            spark.conf.set(arrow_key, "true")
            try:
                pdf = sel.toPandas()
            finally:
                # a library operator must not leave the session's Arrow
                # behavior flipped for every later toPandas call
                if prior is None:
                    spark.conf.unset(arrow_key)
                else:
                    spark.conf.set(arrow_key, prior)
            edge_rows = list(zip(pdf["doc_id_a"].tolist(),
                                 pdf["doc_id_b"].tolist()))
            return _cc_union_find(edge_rows, nodes, id_col)
        # cache the edge list: the convergence loop runs an action per
        # round and would otherwise recompute the (possibly expensive)
        # pair pipeline every iteration
        edges = (sel.select(F.col("doc_id_a").alias("src"),
                            F.col("doc_id_b").alias("dst"))
                 .union(sel.select(F.col("doc_id_b").alias("src"),
                                   F.col("doc_id_a").alias("dst")))).cache()
        labels = nodes.select(F.col(id_col).alias("node"),
                              F.col(id_col).alias("label")).cache()
        converged = False
        for _ in range(max_iterations):
            neighbor_min = (edges.join(labels, edges.src == labels.node)
                            .groupBy("dst").agg(F.min("label").alias("nmin")))
            new_labels = (labels.join(neighbor_min,
                                      labels.node == neighbor_min.dst,
                                      "left")
                          .select(F.col("node"),
                                  F.least("label", F.coalesce("nmin", "label"))
                                  .alias("label"))).cache()
            changed = (new_labels.alias("n")
                       .join(labels.alias("o"),
                             F.col("n.node") == F.col("o.node"))
                       .filter(F.col("n.label") != F.col("o.label")).count())
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} "
                f"rounds — a component's diameter exceeds the bound; raise "
                f"max_iterations (silent partial labels would be wrong)")
        return labels.select(F.col("node").alias(id_col),
                             F.col("label").alias("cluster_id"))
    finally:
        # no leaked cache entries on any exit path (success OR error)
        sel.unpersist()
        if edges is not None:
            edges.unpersist()


def dedup_keep(docs: DataFrame, pairs: DataFrame | None = None,
               method: str = "minhash", threshold: float = 0.7,
               score_col: str | None = None, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """End-to-end near-dup dedup: cluster the pair graph, pick ONE
    canonical representative per cluster, return the filtered corpus.

    The existing surface stops at clusters (``connected_components``)
    and leaves the keep rule to the caller; this is the keep rule as a
    first-class operator. Representative per cluster:

    - default: the MINIMUM id. ``connected_components`` labels every
      cluster with its minimum reachable id, so this path is a
      zero-extra-shuffle filter ``id == cluster_id``.
    - ``score_col``: the highest-scoring doc (ties -> smallest id),
      via one max-of-struct aggregation per cluster — keep the best
      copy rather than the first. Requires a NUMERIC id (the
      smallest-id tie-break rides the struct max as ``-id``).

    ``pairs`` is any verified pair relation (doc_id_a, doc_id_b, ...)
    over ids present in ``docs`` — a pair endpoint missing from the
    corpus would become a cluster label no doc carries; when omitted
    it is generated here by ``method``:
    'minhash' (minhash_lsh_pairs at ``threshold``), 'simhash'
    (simhash_pairs), or 'exact' (exact duplicate groups only).

    Output: every original doc column of the kept docs, plus
    cluster_id and cluster_size (1 for docs with no duplicate).

    Scale: pair generation dominates (its own bucketed-LSH design);
    the keep step adds one aggregation keyed on cluster_id plus one
    id-keyed join back to the corpus — both shuffle-on-key, never
    all-pairs, and the struct max combines map-side.
    """
    if pairs is None:
        if method == "minhash":
            pairs = minhash_lsh_pairs(docs, threshold=threshold,
                                      text_col=text_col, id_col=id_col)
        elif method == "simhash":
            pairs = simhash_pairs(docs, text_col=text_col, id_col=id_col)
        elif method == "exact":
            # star pairs (group min, member): a join, not a
            # collect_list — a pathologically hot duplicate group
            # never materializes as one array
            sh_key = F.md5(F.lower(F.regexp_replace(
                F.trim(F.col(text_col)), r"\s+", " ")))
            keyed = docs.select(F.col(id_col), sh_key.alias("k"))
            mins = keyed.groupBy("k").agg(
                F.min(id_col).alias("doc_id_a"))
            pairs = (keyed.join(mins, "k")
                     .filter(F.col(id_col) != F.col("doc_id_a"))
                     .select("doc_id_a", F.col(id_col).alias("doc_id_b")))
        else:
            raise ValueError(f"unknown dedup method: {method!r}")

    cc = connected_components(pairs, docs.select(id_col), id_col=id_col)
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))

    if score_col is None:
        reps = cc.filter(F.col(id_col) == F.col("cluster_id"))
    else:
        scored = cc.join(docs.select(id_col, score_col), id_col)
        # field-wise struct max: highest score, then smallest id
        best = scored.groupBy("cluster_id").agg(
            F.max(F.struct(F.col(score_col).alias("s"),
                           (-F.col(id_col)).alias("neg_id"))).alias("b"))
        reps = best.select("cluster_id",
                           (-F.col("b.neg_id")).cast("long")
                           .alias(id_col))

    keep = reps.join(sizes, "cluster_id")
    return docs.join(keep.select(id_col, "cluster_id", "cluster_size"),
                     id_col)


# ---------------------------------------------------------------------------
# Embedding cosine near-dup (brute-force baseline; scale path = similarity.py)
# ---------------------------------------------------------------------------

def embedding_neardup_pairs(emb: DataFrame, threshold: float = 0.45,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """All pairs with cosine >= threshold: (vec_id_a, vec_id_b).

    Brute force O(n^2) pair join in pure column expressions — correct
    baseline; prefer embedding_neardup_pairs_blocked (same answer, ~4x
    faster locally, and the shape that scales out).
    """
    vecd = emb.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn(
        "norm", F.sqrt(F.aggregate(F.transform("v", lambda x: x * x),
                                   F.lit(0.0), lambda acc, v: acc + v)))
    a, b = vecd.alias("a"), vecd.alias("b")
    dot = F.aggregate(F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .withColumn("cosine", dot / (F.col("a.norm") * F.col("b.norm")))
        .filter(F.col("cosine") >= threshold)
        .select(F.col(f"a.{id_col}").alias("vec_id_a"),
                F.col(f"b.{id_col}").alias("vec_id_b"))
    )


def embedding_neardup_pairs_blocked(emb: DataFrame, threshold: float = 0.45,
                                    num_blocks: int = 8,
                                    id_col: str = "vec_id",
                                    vec_col: str = "embedding") -> DataFrame:
    """Blocked all-pairs cosine: the 100 TB-shaped formulation.

    Vectors hash into ``num_blocks`` blocks; each of the B*(B+1)/2 block
    pairs becomes one Arrow batch where numpy does a dense matmul (the
    classic blocked GEMM all-pairs pattern). Shuffle volume is
    n * num_blocks rows — tune num_blocks so each block pair's matrices
    fit executor memory (rows_per_block^2 * 8 bytes for the score
    tile). Same answer as the brute-force baseline (float64 matmul;
    threshold margins on this corpus are >1e-4 vs ~1e-15 noise).
    """
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    v = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
        (F.col(id_col) % num_blocks).alias("b"),
    )
    pairs_idx = [(i, j) for i in range(num_blocks) for j in range(i, num_blocks)]
    pi = spark.createDataFrame(pairs_idx, "bi int, bj int")
    fan = v.join(F.broadcast(pi),
                 (F.col("b") == F.col("bi")) | (F.col("b") == F.col("bj")))

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        A = pdf[pdf["b"] == bi]
        B = pdf[pdf["b"] == bj]
        if A.empty or B.empty:
            return pd.DataFrame({"vec_id_a": pd.Series(dtype="int64"),
                                 "vec_id_b": pd.Series(dtype="int64")})
        MA = np.stack(A["v"].to_numpy())
        MB = np.stack(B["v"].to_numpy())
        MA /= np.linalg.norm(MA, axis=1, keepdims=True)
        MB /= np.linalg.norm(MB, axis=1, keepdims=True)
        ia, jb = np.nonzero(MA @ MB.T >= threshold)
        ids_a = A["vid"].to_numpy()[ia]
        ids_b = B["vid"].to_numpy()[jb]
        lo, hi = np.minimum(ids_a, ids_b), np.maximum(ids_a, ids_b)
        keep = lo < hi
        return (pd.DataFrame({"vec_id_a": lo[keep], "vec_id_b": hi[keep]})
                .drop_duplicates())

    return (fan.groupBy("bi", "bj")
            .applyInPandas(block_pairs, "vec_id_a long, vec_id_b long")
            .distinct())


SEMDEDUP_PLANES = 4


def semantic_dedup(emb: DataFrame, n_planes: int = SEMDEDUP_PLANES,
                   threshold: float = 0.45, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    bucket vectors, compare cosines only WITHIN a bucket, and keep the
    lowest-id representative of every near-duplicate group.

    Output per vector: ``(vec_id, bucket, n_dups, kept)`` — ``n_dups``
    counts same-bucket partners with cosine >= ``threshold``; ``kept``
    is 1 unless a smaller-id partner exists (the SemDeDup keep rule).

    Bucketing here is ``n_planes`` deterministic Rademacher hyperplane
    signs (bit j = sign of the DECIMAL-summed projection onto
    md5-derived plane j — the same exact-arithmetic trick as
    quantization.random_project, so any engine reproduces the buckets
    bit-for-bit). The production SemDeDup recipe buckets by k-means
    cell instead — that path is ``similarity.kmeans_centroids`` +
    ``assign_cells`` composed with the same within-bucket compare; the
    hyperplane variant is the oracle-reproducible twin (k-means cells
    depend on a fitted model, not pure arithmetic).

    100 TB shape: bucketing is MAP-ONLY — the (d x n_planes) sign
    matrix is derived driver-side from the same md5 arithmetic and
    inlined as literal arrays, so each bucket bit is one
    zip_with+aggregate expression over the vector (no explode, no join,
    no shuffle before the pair join). Then ONE bucket-keyed self-join —
    candidate pairs are bounded per bucket (raise ``n_planes`` as the
    corpus grows: 2^n_planes buckets), never all-pairs. For very wide
    embeddings (d in the thousands) where literal arrays would bloat
    the plan, swap in the broadcast sign-table join used by
    ``quantization.random_project`` — same results. Per-plane sums are
    DECIMAL-accumulated (order-independent -> engine-reproducible).
    """
    import hashlib

    base = emb.select(F.col(id_col).alias("vid"),
                      F.col(vec_col).cast("array<double>").alias("v"))
    # probe the first NON-degenerate vector for the width (limit-1 with
    # a pushed filter — early-exits, never a full pass); a null/empty
    # vector elsewhere keeps its row (bucket null -> joins nothing ->
    # kept=1), it must not blank the whole report
    first = (base.filter(F.size("v") > 0)
             .select(F.size("v").alias("d")).first())
    if first is None:
        # no usable vectors at all: empty result with the INPUT id type
        from pyspark.sql.types import (LongType, StructField, StructType)

        id_type = emb.schema[id_col].dataType
        return emb.sparkSession.createDataFrame([], schema=StructType([
            StructField(id_col, id_type),
            StructField("bucket", LongType()),
            StructField("n_dups", LongType()),
            StructField("kept", LongType())]))
    d = first["d"]

    def _sign(i: int, j: int) -> float:
        h = hashlib.md5(f"sb:{i}:{j}".encode()).hexdigest()
        return 1.0 if int(h[0], 16) % 2 == 0 else -1.0

    zero = F.lit("0").cast("decimal(28,15)")
    bucket = None
    for j in range(n_planes):
        signs = F.array(*[F.lit(_sign(i, j)) for i in range(d)])
        proj = F.aggregate(
            F.zip_with("v", signs,
                       lambda x, s: (x * s).cast("decimal(28,15)")),
            zero, lambda acc, t: (acc + t).cast("decimal(28,15)"))
        bit = (proj >= 0).cast("long") * (2 ** j)
        bucket = bit if bucket is None else bucket + bit
    vecs = base.withColumn("bucket", bucket)
    return _semdedup_within_buckets(vecs, threshold, id_col)


def _semdedup_within_buckets(vecs: DataFrame, threshold: float,
                             id_col: str) -> DataFrame:
    """Shared SemDeDup core over a pre-bucketed vector relation
    ``(vid, bucket, v)``: per-bucket pairwise cosine via one
    Arrow-batched numpy GEMM (the same vectorized discipline as
    ``embedding_neardup_pairs_blocked`` — a JVM expression over the
    exploded pair fan-out measured ~5x slower), then keep-lowest-id.
    Returns (id_col, bucket, n_dups, kept) for EVERY input vector.

    Memory bound: one bucket's vectors form one GEMM tile, so size
    buckets (n_planes / k-means k) to keep tiles in executor memory;
    for oversized buckets compose with the bi/bj tiling of
    ``embedding_neardup_pairs_blocked`` inside each bucket.
    """
    import pandas as pd

    # vecs feeds BOTH the pair fan-out and the final id spine; without
    # materialization the scan + bucket expression run twice.
    vecs = vecs.localCheckpoint(eager=True)

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # degenerate rows (NULL / width-mismatched vectors) all land in
        # the NULL bucket together — drop them HERE so they pair with
        # nothing (kept=1 via the left join) instead of np.stack
        # raising on None/ragged input and killing the stage
        vs = pdf["v"]
        keep = vs.map(lambda x: x is not None)
        pdf = pdf[keep]
        if len(pdf) >= 2:
            # keep the MODAL width (smallest on ties, deterministic) —
            # keying off the first row would let one anomalous-width row
            # at position 0 evict every normal vector from pairing
            lens = pdf["v"].map(len)
            vc = lens.value_counts()
            top = vc.max()
            modal = min(int(w) for w, c in vc.items() if c == top)
            pdf = pdf[lens == modal]
        if len(pdf) < 2:
            return pd.DataFrame({"ida": pd.Series(dtype="int64"),
                                 "idb": pd.Series(dtype="int64")})
        M = np.stack(pdf["v"].to_numpy())
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        Mn = M / norms
        ia, ib = np.nonzero(np.triu(Mn @ Mn.T >= threshold, k=1))
        ids = pdf["vid"].to_numpy()
        lo = np.minimum(ids[ia], ids[ib])
        hi = np.maximum(ids[ia], ids[ib])
        return pd.DataFrame({"ida": lo, "idb": hi})

    pairs = (vecs.select("vid", "bucket", "v")
             .groupBy("bucket")
             .applyInPandas(bucket_pairs, "ida long, idb long"))
    sides = (pairs.select(F.col("ida").alias("vid"),
                          F.lit(0).alias("is_better"))
             .unionByName(pairs.select(F.col("idb").alias("vid"),
                                       F.lit(1).alias("is_better"))))
    cnt = (sides.groupBy("vid")
           .agg(F.count(F.lit(1)).alias("n_dups"),
                F.sum("is_better").alias("n_better")))
    return (vecs.select("vid", "bucket").join(cnt, "vid", "left")
            .select(F.col("vid").alias(id_col),
                    F.col("bucket").cast("long").alias("bucket"),
                    F.coalesce("n_dups", F.lit(0)).cast("long")
                    .alias("n_dups"),
                    (F.coalesce("n_better", F.lit(0)) == 0).cast("long")
                    .alias("kept")))


def semantic_dedup_kmeans(emb: DataFrame, centroids: DataFrame | None = None,
                          k: int = 16, threshold: float = 0.45,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """The production SemDeDup path: bucket = k-means cell (the paper's
    recipe) instead of hyperplane signs, then the identical
    within-bucket cosine compare + keep-lowest-id rule.

    ``centroids`` defaults to ``similarity.kmeans_centroids(emb, k)``
    (deterministic hash-sample Lloyd fit); pass a persisted centroid
    table to reuse one fit across corpus increments — cell assignment
    then stays consistent between runs, so previously-kept
    representatives keep their cells.

    100 TB shape: one broadcast centroid-argmax pass over the corpus
    (``assign_cells``) + the bucket-keyed self-join — identical
    candidate discipline as ``semantic_dedup``, with data-adaptive
    buckets (k-means balances occupancy where hyperplanes can't).
    Approximate like the hyperplane variant (cross-cell near-dups are
    not compared); no SQL oracle — cell assignments depend on the
    fitted model, so equivalence is test-asserted instead.
    """
    from lightning_metastore_spark.operators.similarity import (
        assign_cells, kmeans_centroids)

    if centroids is None:
        centroids = kmeans_centroids(emb, k=k, id_col=id_col,
                                     vec_col=vec_col)
    index = assign_cells(emb, centroids, id_col=id_col, vec_col=vec_col)
    vecs = index.select(F.col(id_col).alias("vid"),
                        F.col("cell").alias("bucket"), "v")
    return _semdedup_within_buckets(vecs, threshold, id_col)


# --- content-defined chunking (CDC) dedup ---------------------------------

_CDC_BASE = 33
_CDC_PRIME = 1000003


def cdc_chunks(docs: DataFrame, window: int = 8, modulus: int = 32,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content-defined chunking (the rsync/LBFS boundary rule):
    (doc_id, ck, chunk_len, chunk_md5) — split each document at the
    1-based positions i where the Karp-Rabin polynomial hash of the
    trailing ``window`` characters (codepoints mod 256, base 33, mod
    1000003) is 0 mod ``modulus``; expected chunk length ~= ``modulus``
    characters.

    Because boundaries depend only on LOCAL content, an insertion or
    deletion disturbs at most the chunks it touches — unlike
    fixed-width chunking, where one shifted character changes every
    downstream chunk hash. That locality is what makes chunk-hash
    dedup robust to partial edits (storage dedup, diff transfer, and
    chunk-level duplication mining on LLM corpora).

    Implementation is an Arrow-batched ``mapInPandas`` pass — the
    windowed hash is one numpy sliding-window/matrix product per
    document (vectorized integer math; a JVM higher-order-function
    formulation exists but re-evaluates the O(n·w) boundary lambda per
    reference after projection collapse — measured pathological, hence
    the Arrow path; same discipline as skyline/LTTB). Text is
    whitespace-normalized first so chunking is layout-invariant.
    Map-only: zero shuffle, batch-bounded memory, exact integer math
    mirrored by the DuckDB oracle.
    """
    import hashlib
    import re as _re

    import numpy as np
    import pandas as pd

    w, d = int(window), int(modulus)
    pows = np.array([(_CDC_BASE ** (w - j)) % _CDC_PRIME
                     for j in range(1, w + 1)], dtype=np.int64)
    base = docs.select(F.col(id_col), F.col(text_col).alias("_text"))
    # the decode loop is CPU-bound per document: when the source arrives
    # in fewer splits than the session's parallelism (the single-file
    # local case — at warehouse scale file count provides this for
    # free), spread it once so every core chunks
    try:
        n_parts = base.rdd.getNumPartitions()
        target = base.sparkSession._sc.defaultParallelism
        if n_parts < max(target // 2, 2):
            base = base.repartition(target)
    except Exception:
        pass

    def run(batches):
        # ASCII \s to mirror RE2/Java semantics in the DuckDB oracle
        ws_re = _re.compile(r"\s+", _re.ASCII)
        for pdf in batches:
            ids, cks, lens, md5s = [], [], [], []
            for rid, text in zip(pdf[id_col], pdf["_text"]):
                t = ws_re.sub(" ", text or "")
                n = len(t)
                if n == 0:
                    continue
                codes = (np.frombuffer(t.encode("utf-32-le"),
                                       dtype="<u4").astype(np.int64)
                         % 256)
                cuts = [0]
                if n >= w:
                    win = np.lib.stride_tricks.sliding_window_view(codes, w)
                    h = (win @ pows) % _CDC_PRIME % d
                    # window ending at 1-based position i = idx + w
                    cuts.extend(int(j) + w for j in np.nonzero(h == 0)[0])
                if cuts[-1] != n:
                    cuts.append(n)
                for k in range(len(cuts) - 1):
                    chunk = t[cuts[k]:cuts[k + 1]]
                    ids.append(int(rid))
                    cks.append(k + 1)
                    lens.append(len(chunk))
                    md5s.append(hashlib.md5(chunk.encode()).hexdigest())
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                                "ck": pd.Series(cks, dtype="int64"),
                                "chunk_len": pd.Series(lens, dtype="int64"),
                                "chunk_md5": pd.Series(md5s, dtype="object")})

    return base.mapInPandas(
        run, schema=f"{id_col} long, ck long, chunk_len long, "
                    "chunk_md5 string")


def cdc_dup_stats(docs: DataFrame, window: int = 8, modulus: int = 32,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Chunk-level duplication profile per document: (doc_id, n_chunks,
    n_dup_chunks, dup_chunk_frac, avg_chunk_len) where a chunk is
    'dup' when its hash occurs in MORE THAN ONE document.

    Shuffle shape (the TF-IDF / dup-spans discipline): map-only CDC
    fan-out -> one chunk-hash-keyed aggregation (map-side combined) for
    corpus document frequency -> rejoin on the same key -> one per-doc
    aggregation. Chunk hashes are 32-char md5s; the shuffle carries
    hashes, never chunk text.
    """
    from lightning_metastore_spark.operators._cache import persist_slot

    # the chunk relation feeds BOTH the document-frequency agg and the
    # per-doc rejoin — persist (single-slot: repeated calls through the
    # SQL/REST surface release the previous call's cache) so the Arrow
    # chunking pass runs once
    ch = persist_slot("cdc_dup_stats.chunks",
                      cdc_chunks(docs, window, modulus, text_col, id_col))
    dfreq = (ch.select(id_col, "chunk_md5").distinct()
             .groupBy("chunk_md5")
             .agg(F.count(F.lit(1)).alias("df")))
    per_doc = (ch.join(dfreq, "chunk_md5")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_chunks"),
                    F.sum(F.when(F.col("df") > 1, 1).otherwise(0))
                    .alias("n_dup_chunks"),
                    F.sum("chunk_len").alias("_len_sum")))
    return (docs.select(id_col).distinct()
            .join(per_doc, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce("n_chunks", F.lit(0)).cast("long")
                .alias("n_chunks"),
                F.coalesce("n_dup_chunks", F.lit(0)).cast("long")
                .alias("n_dup_chunks"),
                F.round(F.coalesce(F.col("n_dup_chunks"), F.lit(0))
                        / F.greatest(F.col("n_chunks"), F.lit(1)), 6)
                .alias("dup_chunk_frac"),
                F.round(F.coalesce(F.col("_len_sum"), F.lit(0))
                        / F.greatest(F.col("n_chunks"), F.lit(1)), 6)
                .alias("avg_chunk_len")))


def cdc_chunk_index(docs: DataFrame, window: int = 8, modulus: int = 32,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """The persisted corpus artifact for incremental CDC dedup:
    (chunk_md5, df) — each distinct chunk hash with its document
    frequency. One Arrow chunking pass + one hash-keyed agg; at scale
    this lives partitioned by hash prefix next to the corpus, exactly
    like the MinHash signature index."""
    ch = cdc_chunks(docs, window, modulus, text_col, id_col)
    return (ch.select(id_col, "chunk_md5").distinct()
            .groupBy("chunk_md5")
            .agg(F.count(F.lit(1)).cast("long").alias("df")))


def cdc_batch_against_index(batch: DataFrame, index: DataFrame,
                            window: int = 8, modulus: int = 32,
                            max_known_frac: float = 0.5,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Incremental chunk-level dedup of a NEW batch against a stored
    corpus chunk index: (doc_id, n_chunks, n_known_chunks, known_frac,
    admit) — admit=false when more than ``max_known_frac`` of a doc's
    chunks already exist in the corpus (a mostly-recycled page).

    The corpus is touched ZERO times: only its (chunk_md5, df) index
    participates. The batch side is small by definition, so its chunk
    hashes broadcast into the index join; cost is O(batch + hits)
    regardless of corpus size — the incremental-MinHash discipline at
    chunk granularity.
    """
    ch = cdc_chunks(batch, window, modulus, text_col, id_col)
    hits = (index.join(F.broadcast(ch.select("chunk_md5").distinct()),
                       "chunk_md5")
            .select("chunk_md5"))
    per_doc = (ch.join(F.broadcast(hits.withColumn("_known", F.lit(1))),
                       "chunk_md5", "left")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_chunks"),
                    F.sum(F.coalesce("_known", F.lit(0)))
                    .alias("n_known_chunks")))
    known_frac = F.round(F.col("n_known_chunks")
                         / F.greatest(F.col("n_chunks"), F.lit(1)), 6)
    return (batch.select(id_col).distinct()
            .join(per_doc, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_chunks", F.lit(0)).cast("long")
                    .alias("n_chunks"),
                    F.coalesce("n_known_chunks", F.lit(0)).cast("long")
                    .alias("n_known_chunks"),
                    F.coalesce(known_frac, F.lit(0.0)).alias("known_frac"),
                    (F.coalesce(known_frac, F.lit(0.0))
                     <= F.lit(float(max_known_frac))).alias("admit")))
