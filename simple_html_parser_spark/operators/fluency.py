"""CCNet-style LM fluency filter (Wenzek et al. 2019, "CCNet:
Extracting High Quality Monolingual Datasets from Web Crawl Data",
arXiv:1911.00359 — public paper): score every document against a
per-language n-gram LM and split each language into head / middle /
tail quality buckets by score tertile.  CCNet trains a 5-gram KenLM
per language on Wikipedia and buckets by perplexity; this operator
keeps the pipeline SHAPE (per-language LM → per-doc score → per-lang
tertile split) while staying integer-exact so the DuckDB value oracle
replays it bit-for-bit (floats-across-engines rule, CLAUDE.md):

- the LM is a bigram count table trained on the corpus itself (or a
  caller-supplied reference frame), pruned to counts >= ``min_count``
  (the hapax tail dominates bigram cardinality at crawl scale; CCNet's
  KenLM is likewise pruned);
- a bigram's log-probability weight is the integer floor(log2(count))
  = length(bin(count)) - 1, capped at count<=``cap`` (weight 15 at the
  default 65535) — OOV bigrams score 0, exactly like an <unk> floor;
- doc fluency is basis points of the maximum attainable weight:
  fluency_bp = (10000 * sum_w) div (15 * n_bigrams) in [0, 10000];
- tertiles come from the per-language HISTOGRAM of fluency_bp (at
  most 10001 distinct values per language), never from a window over
  documents: c(bp) = docs with score >= bp, and a doc is head iff
  3*c(bp) <= n+2  (i.e. c <= ceil(n/3)), middle iff 3*c(bp) <= 2n+2,
  else tail.  Ties share a bucket, so the split is deterministic and
  partition-independent.

Scale shape (10^12 docs): the bigram explode is one row per token —
the cardinality every shingle/line pass here already shuffles.  LM
training is a map-side-combined hash-agg on (lang, bigram); scoring is
a co-partitioned shuffle equi-join on the same key (AQE broadcasts the
pruned LM when it fits); the tertile machinery runs entirely on the
(lang, fluency_bp) histogram — <= n_langs x 10001 rows, broadcast back.
No corpus-wide window, no corpus-proportional broadcast, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..runtime.session import persist
from .dedup import ngrams_col, tokens_col

MAX_W = 15  # floor(log2(65535)): weight of a cap-saturated bigram


def bigrams_exploded(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, b) — one row per token position (stride-1
    bigrams, space-joined); docs with < 2 tokens emit nothing."""
    return (docs.select("doc_id", "lang", tokens_col().alias("_t"))
            .select("doc_id", "lang",
                    F.explode(ngrams_col(F.col("_t"), 2)).alias("b")))


def lm_fluency(docs: DataFrame, ref: DataFrame | None = None,
               min_count: int = 2, cap: int = 65535,
               unpersist_handles: list | None = None) -> DataFrame:
    """(doc_id, lang, n_bigrams, fluency_bp, bucket) for every input
    doc.  ``ref`` is the LM training frame (doc_id, text, lang);
    default: the scored corpus itself (CCNet trains on a reference
    corpus — pass one — but self-training is the in-repo oracle form).
    Empty/1-token docs score 0 and land in the tail by construction.

    When self-training, the bigram frame feeds TWO consumers (the LM
    count table and the scoring join) and Catalyst re-runs the
    tokenize+explode per consumer — so it persists MEMORY_AND_DISK
    (r6 A/B at sf0.1: 1.64 -> 1.47 s, and one fewer full corpus pass
    at scale; appended to ``unpersist_handles`` when given).  With an
    explicit ``ref`` each frame has one consumer and nothing persists.
    """
    bg = bigrams_exploded(docs)
    if ref is None:
        bg = persist(bg, unpersist_handles)
    ref_bg = bg if ref is None else bigrams_exploded(ref)
    lm = (ref_bg.groupBy("lang", "b")
          .agg(F.count("*").alias("_c"))
          .filter(F.col("_c") >= min_count))
    w = F.when(F.col("_c").isNull(), F.lit(0)).otherwise(
        F.length(F.bin(F.least(F.col("_c"), F.lit(cap)))) - 1)
    scored = (
        bg.join(lm, ["lang", "b"], "left")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("_nb"),
             F.sum(w).cast("bigint").alias("_sw"))
    )
    docs_s = (
        docs.select("doc_id", "lang").join(scored, "doc_id", "left")
        .select(
            "doc_id", "lang",
            F.coalesce("_nb", F.lit(0).cast("bigint"))
            .alias("n_bigrams"),
            F.when(F.coalesce("_nb", F.lit(0)) == 0,
                   F.lit(0).cast("bigint"))
            .otherwise(F.expr(f"(10000 * _sw) div ({MAX_W} * _nb)"))
            .alias("fluency_bp"))
    )
    # tertile split on the per-lang score histogram (<= 10001 rows per
    # lang — the window below sorts the HISTOGRAM, never the corpus)
    hist = docs_s.groupBy("lang", "fluency_bp").agg(
        F.count("*").alias("_hc"))
    cum_w = (Window.partitionBy("lang")
             .orderBy(F.desc("fluency_bp"))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot_w = Window.partitionBy("lang")
    lab = hist.select(
        "lang", "fluency_bp",
        F.sum("_hc").over(cum_w).alias("_c_ge"),
        F.sum("_hc").over(tot_w).alias("_n"),
    ).select(
        "lang", "fluency_bp",
        F.when(3 * F.col("_c_ge") <= F.col("_n") + 2, F.lit("head"))
        .when(3 * F.col("_c_ge") <= 2 * F.col("_n") + 2,
              F.lit("middle"))
        .otherwise(F.lit("tail")).alias("bucket"))
    return docs_s.join(F.broadcast(lab), ["lang", "fluency_bp"]).select(
        "doc_id", "lang", "n_bigrams", "fluency_bp", "bucket")
