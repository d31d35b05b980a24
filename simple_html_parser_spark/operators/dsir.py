"""DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling",
arXiv:2302.03169 — public paper).  DSIR scores every raw document by
the log-likelihood ratio of a TARGET-domain bag-of-hashed-ngrams model
over a RAW-corpus model, then resamples by the importance weight; the
hashing is the scalability trick — both "language models" are count
tables over a FIXED number of hash buckets, so the model size is
bounded at ANY corpus size.

This keeps the paper's shape and makes it integer-exact for the
DuckDB value oracle (floats-across-engines rule, CLAUDE.md):

- feature: every stride-1 token bigram hashes to one of ``n_buckets``
  buckets via the repo's polynomial char fold mod 2^31-1 (the
  doc_fingerprint arithmetic — exactly replayable in ANSI SQL);
- each side's bucket log-probability is the integer proxy
  floor(log2(count + 1)) = length(bin(count + 1)) - 1, with the
  corpus-size normalizer floor(log2(total + 1)) subtracted, so the
  per-bigram weight is
      w(b) = [log2~(tc(b)+1) - log2~(T+1)] - [log2~(rc(b)+1) - log2~(R+1)]
  and a document's dsir_score = sum of w over its bigram occurrences;
- selected = score >= 0 (target at least as likely as raw under the
  coarse model) — a deterministic threshold rather than the paper's
  Gumbel-noise sampling, so the output is reproducible and
  partition-independent (the same determinism substitution every
  sampler in this repo makes).

Scale shape (10^12 docs): the bigram explode is one row per token —
the cardinality every shingle/line/fluency pass already shuffles.
BOTH count tables are hash-aggs whose OUTPUT is bounded by n_buckets
(map-side combine collapses the corpus into <= n_buckets rows per
task), so they are always broadcast — the corpus-side plan is one
explode, one broadcast-join, one groupBy(doc_id) partial-agg.  No
corpus-proportional broadcast, no window, no Python stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import ngrams_col, tokens_col
from .textstats import fingerprint_col


def hashed_bigram_buckets(docs: DataFrame,
                          n_buckets: int) -> DataFrame:
    """(doc_id, bkt) — one row per stride-1 bigram occurrence; the
    bucket is the doc_fingerprint fold of the bigram mod n_buckets."""
    return (docs.select("doc_id", tokens_col().alias("_t"))
            .select("doc_id", F.explode(ngrams_col(F.col("_t"), 2))
                    .alias("_b"))
            .select("doc_id", (fingerprint_col(F.col("_b")) % n_buckets)
                    .alias("bkt")))


def _bucket_counts(bg: DataFrame) -> DataFrame:
    """(bkt, c) — bounded at n_buckets rows regardless of corpus."""
    return bg.groupBy("bkt").agg(F.count("*").alias("c"))


def _log2p1(c: Column) -> Column:
    """floor(log2(c + 1)) as pure integer arithmetic."""
    return (F.length(F.bin(c + F.lit(1).cast("bigint"))) - 1) \
        .cast("bigint")


def dsir_weights(docs: DataFrame, target: DataFrame,
                 n_buckets: int = 8192) -> DataFrame:
    """(doc_id, n_bigrams, dsir_score, avg_score_x100, selected) for
    every doc in ``docs``, scored against the hashed-bigram model of
    ``target`` (doc_id, text).  avg_score_x100 = 100 * score div
    n_bigrams; docs with no bigrams score 0 and are NOT selected."""
    raw_bg = hashed_bigram_buckets(docs, n_buckets)
    tgt_bg = hashed_bigram_buckets(target, n_buckets)
    raw_c = _bucket_counts(raw_bg)
    tgt_c = _bucket_counts(tgt_bg).withColumnRenamed("c", "tc")
    # per-side corpus normalizers: 1-row frames, crossJoin-broadcast
    raw_tot = raw_bg.agg(F.count("*").alias("_rt"))
    tgt_tot = tgt_bg.agg(F.count("*").alias("_tt"))
    # LEFT join: only buckets present in the raw stream are ever
    # scored (scoring joins raw_bg against lm), so target-only
    # buckets are irrelevant — and a left join broadcasts its right
    # side, which a full outer join cannot
    lm = (raw_c.join(F.broadcast(tgt_c), "bkt", "left")
          .select(
              "bkt",
              (_log2p1(F.coalesce(F.col("tc"),
                                  F.lit(0).cast("bigint")))
               - _log2p1(F.coalesce(F.col("c"),
                                    F.lit(0).cast("bigint"))))
              .alias("_w")))
    scored = (
        raw_bg.join(F.broadcast(lm), "bkt", "left")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("_nb"),
             F.sum(F.coalesce(F.col("_w"), F.lit(0).cast("bigint")))
             .cast("bigint").alias("_sw"))
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            "doc_id", F.col("_nb").alias("n_bigrams"),
            (F.col("_sw") + F.col("_nb")
             * (_log2p1(F.col("_rt")) - _log2p1(F.col("_tt"))))
            .alias("dsir_score"))
    )
    nb = F.coalesce("n_bigrams", F.lit(0).cast("bigint"))
    sc = F.coalesce("dsir_score", F.lit(0).cast("bigint"))
    return (
        docs.select("doc_id").join(scored, "doc_id", "left")
        .select(
            "doc_id",
            nb.alias("n_bigrams"),
            sc.alias("dsir_score"),
            F.expr("100 * coalesce(dsir_score, 0) "
                   "div greatest(coalesce(n_bigrams, 0), 1)")
            .alias("avg_score_x100"),
            ((nb > 0) & (sc >= 0)).alias("selected"),
        )
    )
