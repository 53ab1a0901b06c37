"""End-to-end corpus curation: the composed LLM-data pipeline.

``curate_corpus`` chains the individual operators into the standard
pretraining-data flow, all lazily planned as ONE DataFrame program so
Catalyst can pipeline the stages:

    1. boilerplate line removal        (cleaning.remove_boilerplate_lines)
    2. quality scoring + threshold     (text.quality_features)
    3. language filter                 (text.lang_id)
    4. exact dedup                     (text.fingerprint + keep-min-id)
    5. near-dup clustering + keep-best (dedup.jaccard/minhash + CC)
    6. deterministic split assignment  (md5-hash train/val/test)

Output: (doc_id, text, quality_score, pred_lang, cluster_id, split,
keep) — ``keep`` is the final verdict; filtered rows stay inspectable
(keep=False with a reason) rather than vanishing, which is how real
curation pipelines audit their attrition.

Scale: every stage is a shuffle-on-key DataFrame op documented in its
own module; nothing here adds a collect or a new shuffle beyond the
component operators.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from lightning_metastore_spark.functions import text as text_fns
from lightning_metastore_spark.operators import dedup
from lightning_metastore_spark.operators.cleaning import remove_boilerplate_lines
from lightning_metastore_spark.session import local_frame


@dataclass
class CurationConfig:
    boilerplate_max_df: int = 2
    min_quality: float = 0.3
    allowed_langs: tuple = ("en", "de", "fr", "es", "zh", "und")
    near_dup_threshold: float = 0.5
    use_minhash: bool = True         # False = exact jaccard pairs
    train_frac_hex: str = "cc"       # md5-prefix cutoffs (~0.797)
    val_frac_hex: str = "e6"         # (~0.1 more)
    # optional stages (None = off, keeping the gate oracle's shape):
    max_dup_2gram_frac: float | None = None   # Gopher repetition reject
    use_gopher_rules: bool = False             # the Gopher document
    #   quality rules (Rae et al. App. A1.1) at published thresholds:
    #   word-count bounds, mean word length, symbol ratio, bullet/
    #   ellipsis line fractions, alpha-word fraction, stop-word
    #   presence (functions/text.gopher_quality_rules, map-only)
    max_dup_span_frac: float | None = None    # exact-substring dup reject
    dup_span_k: int = 5
    max_contam_frac: float | None = None      # benchmark decontamination
    contam_ngram: int = 3
    min_classifier_score: float | None = None  # linear-classifier floor
    min_avg_logprob: float | None = None       # unigram LM perplexity floor
    normalize_form: str | None = None          # Unicode canonicalization
    #   (NFC/NFKC/NFD/NFKD) BEFORE every other stage — byte-different
    #   renderings of the same text then share dedup keys
    html_input: bool = False                   # input is raw HTML: run
    #   functions/html.html_extract FIRST (title/blocks stripped, the
    #   flattened body becomes `text`); link_density is kept for the
    #   reject below
    max_link_density: float | None = None      # drop navigation/chrome
    #   pages (requires html_input=True)
    ref_lm_path: str | None = None             # saved reference-LM
    #   artifact (lm_filter.train_bigram_lm OR train_kn_lm — layout
    #   auto-detected, so a KenLM-style order-n retrain slots in
    #   without a pipeline change)
    min_ref_logprob: float | None = None       # reference-perplexity
    #   floor under that artifact (CCNet-style keep rule)
    url_col: str | None = None                 # C4-style URL-level
    #   dedup FIRST: smallest id per canonical URL survives
    #   (functions/html.url_canonical_expr); NULL URLs always survive
    #   (no URL evidence is not duplicate evidence)
    ccnet_bucket_rates: dict | None = None     # the CCNet TERMINAL
    #   step in one config: reference-LM scores (ref_lm_path) split
    #   into per-pred_lang head/middle/tail perplexity buckets
    #   (lm_filter.perplexity_buckets, default thirds), then each
    #   bucket thinned at its own deterministic rate
    #   (sampling.bucket_resample md5 keep rule), e.g.
    #   {"head": 1.0, "middle": 0.5, "tail": 0.1}. Docs with no LM
    #   score (< order tokens) have no bucket and survive the stage
    #   (no LM evidence is not thin evidence). Requires ref_lm_path;
    #   composes with (or replaces) the min_ref_logprob floor.


def curate_corpus(docs: DataFrame, cfg: CurationConfig | None = None,
                  text_col: str = "text",
                  id_col: str = "doc_id",
                  benchmark: DataFrame | None = None) -> DataFrame:
    """See module docstring. Optional stages (off by default):
    ``cfg.max_dup_2gram_frac`` rejects Gopher-repetitive documents
    (functions/text.py::repetition_features on the CLEANED text);
    ``cfg.max_dup_span_frac`` rejects documents dominated by
    corpus-duplicated exact k-token substrings
    (operators/dedup.py::corpus_dup_spans on the cleaned text);
    ``cfg.min_classifier_score`` rejects below the linear quality
    classifier's floor (functions/text.py::classifier_score);
    ``cfg.min_avg_logprob`` rejects high-perplexity documents under the
    corpus unigram LM (functions/text.py::unigram_logprob);
    ``benchmark`` + ``cfg.max_contam_frac`` rejects documents whose
    n-gram overlap with the benchmark exceeds the bound
    (operators/contamination.py — broadcast membership join);
    ``cfg.normalize_form`` canonicalizes the text
    (cleaning.normalize_text — map-only) BEFORE every other stage, so
    Unicode-variant duplicates collapse in the exact and near-dup
    steps and the returned ``text`` is the normalized form;
    ``cfg.html_input`` runs functions/html.html_extract FIRST (the
    flattened body becomes ``text``) and ``cfg.max_link_density``
    rejects navigation/chrome pages from its link-density feature;
    ``cfg.ref_lm_path`` + ``cfg.min_ref_logprob`` reject docs unlike a
    trusted REFERENCE corpus under a saved reference-LM artifact
    (bigram or order-n Kneser-Ney, layout auto-detected)
    (operators/lm_filter — the CCNet keep rule);
    ``cfg.url_col`` rejects all but the smallest-id doc per canonical
    URL (functions/html.url_canonical_expr — the C4 order, URL dedup
    before every content stage; NULL URLs always survive);
    ``cfg.ccnet_bucket_rates`` runs the FULL CCNet terminal recipe in
    one config — the same reference-LM scores split into per-pred_lang
    head/middle/tail buckets, each thinned at its own deterministic
    rate (reason ``ccnet_thinned``; unscored docs survive). Every
    optional stage
    is a LEFT join with a coalesced neutral default, so output row
    count is invariant to which stages are enabled."""
    cfg = cfg or CurationConfig()
    if cfg.max_link_density is not None and not cfg.html_input:
        raise ValueError("max_link_density requires html_input=True "
                         "(link_density comes from html_extract)")
    if cfg.min_ref_logprob is not None and cfg.ref_lm_path is None:
        raise ValueError("min_ref_logprob requires ref_lm_path (there "
                         "is no reference LM to score against)")
    if cfg.ccnet_bucket_rates is not None and cfg.ref_lm_path is None:
        raise ValueError("ccnet_bucket_rates requires ref_lm_path "
                         "(buckets come from the reference-LM scores)")
    if (cfg.ref_lm_path is not None and cfg.min_ref_logprob is None
            and cfg.ccnet_bucket_rates is None):
        raise ValueError("ref_lm_path without min_ref_logprob or "
                         "ccnet_bucket_rates would silently skip the "
                         "reference-LM stage")

    url_rel = None
    if cfg.url_col is not None:
        # URL-level dedup evidence comes from the INPUT relation (the
        # URL column is not carried through the text stages); the
        # canonical-URL group min is the survivor — the one shared
        # implementation of the keep rule (functions/html)
        from lightning_metastore_spark.functions.html import (
            url_survivors)

        url_rel = url_survivors(docs, cfg.url_col, id_col)

    link_density = None
    if cfg.html_input:
        from lightning_metastore_spark.functions.html import html_extract

        ext = html_extract(docs, text_col=text_col, id_col=id_col)
        link_density = ext.select(id_col, "link_density")
        docs = ext.select(F.col(id_col),
                          F.col("clean_text").alias(text_col))

    if cfg.normalize_form is not None:
        from lightning_metastore_spark.operators.cleaning import (
            normalize_text)

        docs = (normalize_text(docs, form=cfg.normalize_form,
                               text_col=text_col, id_col=id_col)
                .select(F.col(id_col), F.col("text_norm").alias(text_col)))

    # `cleaned` (itself ~2 shuffles deep) feeds five branches below
    # (quality, lang, fingerprint, near-dup survivors, final join) —
    # without a materialization each branch replans and recomputes the
    # whole boilerplate-removal subtree: ~5 redundant full passes at
    # 100 TB, and the connected-components loop re-embeds that subtree
    # in every round's plan (plan-size explosion). An eager
    # localCheckpoint computes it ONCE and truncates lineage to a leaf.
    # Trade-off: localCheckpoint blocks are non-reliable (lost with an
    # executor); for multi-hour cluster runs set a checkpoint dir and
    # swap in .checkpoint() — same single-materialization shape.
    cleaned = remove_boilerplate_lines(docs, cfg.boilerplate_max_df,
                                       text_col=text_col, id_col=id_col) \
        .localCheckpoint(eager=True)
    quality = text_fns.quality_features(cleaned, text_col, id_col) \
        .select(id_col, "quality_score")
    lang = text_fns.lang_id(cleaned, text_col, id_col)

    # exact dedup: smallest id per normalized fingerprint survives.
    # The C4 SEQUENCING contract: URL losers are excluded from the
    # dedup EVIDENCE (not just flagged), so a url-duplicate doc cannot
    # also knock out the sole other copy of its text — without this, a
    # text could vanish entirely (its url-loser copy wins exact dedup,
    # then itself gets dropped as url_duplicate).
    dedup_input = cleaned
    if url_rel is not None:
        dedup_input = cleaned.join(
            url_rel.filter(~F.col("url_survivor")).select(id_col),
            id_col, "left_anti")
    fp = text_fns.fingerprint(dedup_input, text_col, id_col)
    fp_keep = (fp.groupBy("fp").agg(F.min(id_col).alias("__keep_id")))
    # Materialize the per-doc exact-dedup verdict ONCE (narrow rows:
    # fp + ids + flag — the §8 "decide with small rows" proxy, ~60
    # bytes/doc at any scale). It feeds THREE separate actions: the
    # connected-components edge probe/collect (via `survivors` →
    # shingle pipeline) and the final pass (both the main join and
    # `best`'s survivors subtree) — unmaterialized, each action re-ran
    # the fingerprint aggregation + keep-min join over the cleaned
    # corpus. Same trade-off note as `cleaned` above re: localCheckpoint
    # reliability.
    exact_kept = fp.join(fp_keep, "fp").withColumn(
        "exact_survivor", F.col(id_col) == F.col("__keep_id")) \
        .localCheckpoint(eager=True)

    # near-dup clusters over the exact survivors; keep longest per cluster
    survivors = (dedup_input.join(
        exact_kept.filter("exact_survivor").select(id_col), id_col))
    pair_fn = dedup.minhash_lsh_pairs if cfg.use_minhash else dedup.jaccard_pairs
    pairs = pair_fn(survivors, cfg.near_dup_threshold,
                    text_col=text_col, id_col=id_col)
    clusters = dedup.connected_components(pairs, survivors, id_col=id_col)
    best = (survivors
            .withColumn("__len", F.length(text_col))
            .join(clusters, id_col)
            .withColumn("__rk", F.row_number().over(
                W.partitionBy("cluster_id")
                .orderBy(F.desc("__len"), F.asc(id_col))))
            .select(id_col, "cluster_id",
                    (F.col("__rk") == 1).alias("cluster_survivor")))

    h = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    split = (F.when(h < F.lit(cfg.train_frac_hex), "train")
             .when(h < F.lit(cfg.val_frac_hex), "val").otherwise("test"))

    out = (cleaned
           .join(quality, id_col)
           .join(lang, id_col)
           .join(exact_kept.select(id_col, "exact_survivor"), id_col,
                 "left")
           .join(best, id_col, "left")
           .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
           .withColumn("cluster_survivor",
                       F.coalesce("cluster_survivor", F.lit(False)))
           # url losers carry no dedup evidence (excluded above): their
           # flags default non-firing so url_duplicate is the reason
           .withColumn("exact_survivor",
                       F.coalesce("exact_survivor", F.lit(True)))
           .withColumn("split", split))

    url_ok = F.lit(True)
    if url_rel is not None:
        # LEFT join + TRUE default: a NULL-URL doc has no evidence row
        # and must survive this stage (row count stays invariant)
        out = out.join(url_rel, id_col, "left")
        url_ok = F.coalesce("url_survivor", F.lit(True))
    rep_ok = F.lit(True)
    if cfg.max_dup_2gram_frac is not None:
        # LEFT join + coalesce (like the contamination stage below): a
        # doc with NULL/empty text has no repetition row, and an inner
        # join would silently drop it instead of flagging it — output
        # row count must be invariant to which stages are enabled.
        rep = text_fns.repetition_features(cleaned, text_col, id_col) \
            .select(id_col, "dup_2gram_char_frac")
        out = out.join(rep, id_col, "left")
        rep_ok = (F.coalesce("dup_2gram_char_frac", F.lit(0.0))
                  <= cfg.max_dup_2gram_frac)
    span_ok = F.lit(True)
    if cfg.max_dup_span_frac is not None:
        # reject docs dominated by corpus-duplicated exact substrings
        # (the Lee-et-al span signal; remove_dup_spans offers excision
        # instead of rejection when the salvageable text matters)
        spans = dedup.corpus_dup_spans(cleaned, cfg.dup_span_k,
                                       text_col, id_col) \
            .select(id_col, "dup_span_frac")
        out = out.join(spans, id_col, "left")
        span_ok = (F.coalesce("dup_span_frac", F.lit(0.0))
                   <= cfg.max_dup_span_frac)
    gopher_ok = F.lit(True)
    if cfg.use_gopher_rules:
        # the Gopher document quality rules (Rae et al. App. A1.1) at
        # their published thresholds; map-only select over cleaned, so
        # every doc has a row, but the LEFT join keeps the row-count
        # invariance pattern anyway. A NULL/empty doc fails the
        # word-count bound and is rejected — unlike the neutral-default
        # stages, "too short" IS the Gopher verdict for it.
        gop = text_fns.gopher_quality_rules(cleaned, text_col, id_col) \
            .select(id_col, "gopher_keep")
        out = out.join(gop, id_col, "left")
        gopher_ok = F.coalesce("gopher_keep", F.lit(False))
    clf_ok = F.lit(True)
    if cfg.min_classifier_score is not None:
        clf = text_fns.classifier_score(cleaned, text_col=text_col,
                                        id_col=id_col) \
            .select(id_col, F.col("score").alias("clf_score"))
        out = out.join(clf, id_col, "left")
        # a degenerate doc has no token rows -> no score; treat as
        # neutral (0.5) so row count stays invariant to enabled stages
        clf_ok = (F.coalesce("clf_score", F.lit(0.5))
                  >= cfg.min_classifier_score)
    lm_ok = F.lit(True)
    if cfg.min_avg_logprob is not None:
        lm = text_fns.unigram_logprob(cleaned, text_col, id_col) \
            .select(id_col, "avg_logprob")
        out = out.join(lm, id_col, "left")
        lm_ok = (F.coalesce("avg_logprob", F.lit(0.0))
                 >= cfg.min_avg_logprob)
    ld_ok = F.lit(True)
    if cfg.max_link_density is not None and link_density is not None:
        out = out.join(link_density, id_col, "left")
        ld_ok = (F.coalesce("link_density", F.lit(0.0))
                 <= cfg.max_link_density)
    ref_ok = F.lit(True)
    ccnet_ok = F.lit(True)
    if cfg.ref_lm_path is not None:
        from lightning_metastore_spark.operators.lm_filter import (
            score_with_reference_lm)
        ref = score_with_reference_lm(cleaned, cfg.ref_lm_path,
                                      text_col=text_col, id_col=id_col) \
            .select(id_col, F.col("avg_logprob").alias("ref_logprob"))
        out = out.join(ref, id_col, "left")
        if cfg.min_ref_logprob is not None:
            # <2-token docs have no score; neutral default keeps row
            # count invariant to enabled stages
            ref_ok = (F.coalesce("ref_logprob", F.lit(0.0))
                      >= cfg.min_ref_logprob)
        if cfg.ccnet_bucket_rates is not None:
            # the CCNet terminal flow: per-pred_lang head/middle/tail
            # over the SAME ref scores, then per-bucket md5 thinning —
            # ONE group-key window + a map-only keep rule
            from lightning_metastore_spark.operators import sampling
            from lightning_metastore_spark.operators.lm_filter import (
                perplexity_buckets)

            scored_g = ref.join(lang.select(id_col, "pred_lang"), id_col)
            b = perplexity_buckets(scored_g, score_col="ref_logprob",
                                   group_col="pred_lang", id_col=id_col)
            cc = (sampling.bucket_resample(
                b, dict(cfg.ccnet_bucket_rates), id_col=id_col)
                .select(id_col, F.col("kept").alias("__ccnet_kept")))
            out = out.join(cc, id_col, "left")
            # unscored docs have no bucket row: survive (neutral)
            ccnet_ok = F.coalesce("__ccnet_kept", F.lit(True))
    contam_ok = F.lit(True)
    if benchmark is not None and cfg.max_contam_frac is not None:
        from lightning_metastore_spark.operators.contamination import (
            contamination_overlap)
        contam = contamination_overlap(cleaned, benchmark, cfg.contam_ngram,
                                       text_col=text_col, id_col=id_col) \
            .select(id_col, "contam_frac")
        out = out.join(contam, id_col, "left")
        contam_ok = (F.coalesce("contam_frac", F.lit(0.0))
                     <= cfg.max_contam_frac)

    keep = (url_ok & F.col("exact_survivor") & F.col("cluster_survivor")
            & (F.col("quality_score") >= cfg.min_quality)
            & F.col("pred_lang").isin(*cfg.allowed_langs)
            & rep_ok & gopher_ok & span_ok & clf_ok & lm_ok & ld_ok & ref_ok
            & ccnet_ok & contam_ok)
    reason = (F.when(~url_ok, "url_duplicate")
              .when(~F.col("exact_survivor"), "exact_duplicate")
              .when(~F.col("cluster_survivor"), "near_duplicate")
              .when(F.col("quality_score") < cfg.min_quality, "low_quality")
              .when(~F.col("pred_lang").isin(*cfg.allowed_langs), "language")
              .when(~rep_ok, "repetitive")
              .when(~gopher_ok, "gopher_rules")
              .when(~span_ok, "dup_spans")
              .when(~clf_ok, "low_classifier_score")
              .when(~lm_ok, "high_perplexity")
              .when(~ld_ok, "link_heavy")
              .when(~ref_ok, "ref_perplexity")
              .when(~ccnet_ok, "ccnet_thinned")
              .when(~contam_ok, "contaminated")
              .otherwise(None))
    return out.select(id_col, text_col, "quality_score", "pred_lang",
                      "cluster_id", "split", keep.alias("keep"),
                      reason.alias("drop_reason"))


def corpus_report(docs: DataFrame, top_langs: int = 10,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Dataset-card summary — the one-page corpus profile every
    training-data release documents: (metric, value_num, value_str)
    rows covering size (docs/tokens/chars), token-length distribution
    (mean + approx p50/p95), exact-duplicate rate, mean quality score,
    and the language mix (one ``lang:<code>`` row per predicted
    language with its doc share, top ``top_langs``).

    Composes the existing operators (token_counts, quality_features,
    lang_id, exact_dedup) — no new scan semantics; every number is
    re-derivable from those gate-verified components. Scale: four
    single-pass scans, each ending in a scalar or group-cardinality
    aggregate (langs = dozens); percentiles use approx_percentile
    (mergeable sketch — exact percentile would buffer every value in
    one task). Output is ~a dozen rows — driver-sized by construction.
    """
    tc = text_fns.token_counts(docs, text_col, id_col)
    size = tc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("double").alias("total_tokens"),
        F.sum("n_chars").cast("double").alias("total_chars"),
        F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        F.expr("approx_percentile(n_tokens, 0.5)").cast("double")
        .alias("p50_tokens"),
        F.expr("approx_percentile(n_tokens, 0.95)").cast("double")
        .alias("p95_tokens")).first()
    n_docs = int(size["n_docs"])

    n_unique = text_fns.fingerprint(docs, text_col, id_col) \
        .select("fp").distinct().count()
    qual = text_fns.quality_features(docs, text_col, id_col) \
        .agg(F.round(F.avg("quality_score"), 6).alias("avg_q")).first()
    langs = (text_fns.lang_id(docs, text_col, id_col)
             .groupBy("pred_lang").agg(F.count(F.lit(1)).alias("n"))
             .orderBy(F.desc("n"), "pred_lang").limit(int(top_langs))
             .collect())

    rows = [
        ("n_docs", float(n_docs), None),
        ("total_tokens", float(size["total_tokens"] or 0), None),
        ("total_chars", float(size["total_chars"] or 0), None),
        ("avg_tokens", float(size["avg_tokens"] or 0), None),
        ("p50_tokens", float(size["p50_tokens"] or 0), None),
        ("p95_tokens", float(size["p95_tokens"] or 0), None),
        ("n_unique_texts", float(n_unique), None),
        ("exact_dup_frac",
         round(1.0 - n_unique / n_docs, 6) if n_docs else 0.0, None),
        ("avg_quality_score", float(qual["avg_q"] or 0), None),
    ] + [(f"lang:{r['pred_lang']}", round(r["n"] / n_docs, 6),
          r["pred_lang"]) for r in langs]
    return local_frame(docs.sparkSession, rows,
                       "metric string, value_num double, value_str string")


def corpus_diff(old: DataFrame, new: DataFrame,
                text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Snapshot-to-snapshot corpus diff — the dataset-versioning audit
    a recurring crawl/curation run publishes alongside each release:
    one row per doc id in EITHER snapshot with
    (doc_id, status, old_fp, new_fp, token_delta) where status is
    ``added`` (id only in new), ``removed`` (id only in old),
    ``changed`` (both, text md5 differs) or ``unchanged``, and
    token_delta = new-side tokens − old-side tokens (whitespace tokens,
    the module's `\\S+` convention; a missing side counts 0).

    100 TB shape: each side is projected to (id, md5 fp, token count)
    BEFORE the join, so the full-outer shuffle carries ~50-byte rows —
    two orders of magnitude below the text itself — keyed on the unique
    doc id (no skew by construction; both sides are corpus-scale, so
    neither is broadcast and AQE plans a plain shuffle join). Status is
    a map-side expression after the join. A per-status rollup is one
    further `groupBy("status")` away and deliberately not fused in —
    the row-level table is the reusable artifact.
    """
    def prep(df: DataFrame, side: str):
        return df.select(
            F.col(id_col),
            F.md5(F.coalesce(F.col(text_col), F.lit("")))
            .alias(f"{side}_fp"),
            F.size(F.regexp_extract_all(
                F.coalesce(F.col(text_col), F.lit("")),
                F.lit(r"(\S+)"), 1)).cast("long").alias(f"{side}_tokens"))

    j = prep(old, "old").join(prep(new, "new"), id_col, "full_outer")
    status = (F.when(F.col("old_fp").isNull(), "added")
              .when(F.col("new_fp").isNull(), "removed")
              .when(F.col("old_fp") == F.col("new_fp"), "unchanged")
              .otherwise("changed"))
    return j.select(
        F.col(id_col), status.alias("status"),
        F.col("old_fp"), F.col("new_fp"),
        (F.coalesce(F.col("new_tokens"), F.lit(0))
         - F.coalesce(F.col("old_tokens"), F.lit(0))).alias("token_delta"))


def corpus_drift(old: DataFrame, new: DataFrame, top_k: int = 10,
                 text_col: str = "text") -> DataFrame:
    """Distribution-shift audit between two corpus snapshots — the
    companion to ``corpus_diff`` (that one tracks WHICH docs changed;
    this one tracks whether the LANGUAGE changed): token-frequency
    divergences plus the most-drifted tokens. Output is one row per
    metric (metric, value_num, value_str):

    - ``js_divergence``, ``kl_old_new``, ``kl_new_old`` (nats) and
      ``l1_distance`` over add-1-smoothed unigram distributions on the
      UNION vocabulary (p_t=(c_old+1)/(N_old+V), same for q — every
      token has mass on both sides, so the KLs are finite);
    - ``vocab_old`` / ``vocab_new`` / ``vocab_union`` sizes;
    - ``drift:<token>`` rows for the ``top_k`` tokens by |q_t − p_t|,
      value_num = q_t − p_t (positive = more frequent in new).

    Determinism: counts are exact integer aggregates; each divergence
    term is one left-associated double expression frozen to
    DECIMAL(28,15) before the sum, so the totals are
    partition-order-independent; drift top-k is a TakeOrdered with a
    token tiebreak on 9dp-rounded deltas.

    100 TB shape: two single-pass token-count aggregations whose
    outputs are VOCABULARY-sized, one full-outer join of those two
    count tables on the token key (vocab << corpus; this is the only
    shuffle beyond the counts), one scalar aggregate for the metric
    sums, and a TakeOrdered for the drifted tokens. Driver traffic:
    a handful of scalars + top_k rows.
    """
    def counts(df: DataFrame, side: str) -> DataFrame:
        return (df.select(F.explode(F.split(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))),
            r"\s+")).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias(f"c_{side}")))

    spark = old.sparkSession
    co, cn = counts(old, "old"), counts(new, "new")
    j = (co.join(cn, "token", "full_outer")
         .select("token",
                 F.coalesce("c_old", F.lit(0)).alias("c_old"),
                 F.coalesce("c_new", F.lit(0)).alias("c_new")))
    j = j.persist()
    try:
        tot = j.agg(
            F.sum("c_old").alias("n_old"), F.sum("c_new").alias("n_new"),
            F.sum(F.when(F.col("c_old") > 0, 1).otherwise(0)).alias("v_old"),
            F.sum(F.when(F.col("c_new") > 0, 1).otherwise(0)).alias("v_new"),
            F.count(F.lit(1)).alias("v_union")).first()
        n_old, n_new = int(tot["n_old"] or 0), int(tot["n_new"] or 0)
        v = int(tot["v_union"])
        do, dn = float(n_old + v), float(n_new + v)

        p = (F.col("c_old") + F.lit(1.0)) / F.lit(do)
        q = (F.col("c_new") + F.lit(1.0)) / F.lit(dn)
        m = (p + q) / F.lit(2.0)

        def frz(col):
            return col.cast("decimal(28,15)")

        sums = j.agg(
            F.sum(frz(p * F.log(p / q))).alias("kl_pq"),
            F.sum(frz(q * F.log(q / p))).alias("kl_qp"),
            F.sum(frz(p * F.log(p / m))).alias("js_p"),
            F.sum(frz(q * F.log(q / m))).alias("js_q"),
            F.sum(frz(F.abs(q - p))).alias("l1")).first()
        kl_pq = round(float(sums["kl_pq"]), 9)
        kl_qp = round(float(sums["kl_qp"]), 9)
        js = round(0.5 * float(sums["js_p"]) + 0.5 * float(sums["js_q"]), 9)
        l1 = round(float(sums["l1"]), 9)

        delta = F.round(q - p, 9)
        top = (j.select("token", delta.alias("delta"))
               .orderBy(F.abs(F.col("delta")).desc(), F.col("token"))
               .limit(int(top_k)).collect())
    finally:
        j.unpersist()

    rows = [
        ("js_divergence", js, None),
        ("kl_old_new", kl_pq, None),
        ("kl_new_old", kl_qp, None),
        ("l1_distance", l1, None),
        ("vocab_old", float(tot["v_old"]), None),
        ("vocab_new", float(tot["v_new"]), None),
        ("vocab_union", float(v), None),
    ] + [(f"drift:{r['token']}", float(r["delta"]), r["token"])
         for r in top]
    return local_frame(spark, rows,
                       "metric string, value_num double, value_str string")
