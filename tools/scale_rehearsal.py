"""sf1 scale rehearsal for the dedup family (VERDICT r4 item 8): the
sf0.1 bench cannot see quadratic candidate growth, so run the LSH
pipeline once at 400k docs (= sf1 scale) and record wall, plan
stability, and recall.

Two 400k corpora, each probing a different failure mode:

  replicated — sf0.1's 5k docs × 80 identical replicas: the
    duplication-PATHOLOGICAL regime (every (band,sig) bucket holds
    ≥80 docs, i.e. every bucket is over the max_bucket=64 cap).  This
    measures that the caps keep candidate growth bounded: walls must
    stay ~linear in corpus size, never O(bucket²).  The capped LSH
    deliberately drops intra-replica pairs here — those docs are
    byte-identical, which exact dedup (always run first in curate /
    curate_web) collapses without LSH's help; SCALE.md documents the
    trade.  curate_web runs on this corpus end-to-end.

  planted — 400k docs of ~200 deterministic md5-derived tokens each
    (unique text, buckets of size ~1, the cap never fires), with 2000
    PLANTED near-dup pairs: doc 200k+i shares the first 190 tokens of
    doc i for i % 100 == 0 (3-gram Jaccard ≈ 0.88 ≥ τ=0.3; expected
    banding recall at 8×4 banding ≈ 1 - (1-0.88^4)^8 ≈ 0.998).  This
    measures RECALL of the banded+capped machinery at 400k without
    bucket pathology: found planted pairs / 2000.

Plan stability: the formatted physical plan of dedup_minhash_lsh is
compiled at 40k and at 400k and the Exchange node counts compared —
corpus size must not change the plan shape.

A third arm probes exact-substring dedup (`dedup_substrings`) on the
planted corpus: the twin pairs share a 190-token prefix, so with
window=32 exactly 4000 docs (2000 bases + 2000 twins) must each lose
exactly tokens 0..189 (the 159 stride-1 windows inside the shared
prefix are corpus-duplicated; no other 32-token span repeats).  The
arm is CLOSED-FORM correct at 400k, and runs twice — span_hash="md5"
(oracle form, 32-char hex keys) vs "xxhash64" (prod form, 8-byte
bigint keys) — so the "4x narrower exchange" claim in dedup.py is
measured, not asserted.

A fourth arm (`--only r5ops`) rehearses the r5 filter operators at
400k on the REPLICATED corpus (80 identical replicas of each of the
5k base docs, 5 languages): lm_fluency, dsir_weights, gopher_rules.
Closed-form invariants at 400k:

  - replication invariance: every distinct output row (doc_id
    ignored) must occur a multiple-of-80 times — replicas carry
    identical text, so any row count not divisible by 80 means the
    operator leaked partitioning/corpus-size state into a value;
  - the lm_fluency histogram bound: the per-language distinct
    fluency_bp count (the ONLY thing its Window ever sorts) must
    stay <= 10001 at 400k — measured, not asserted;
  - dsir bucket-table bound: distinct buckets <= n_buckets by
    construction; recorded to show the broadcast side stays tiny;
  - plan stability: exchange counts identical at 40k and 400k.

Usage: python3 tools/scale_rehearsal.py [out_json] [--only NAME...]
  --only substr   run just the dedup_substrings arm
  --only r5ops    run just the fluency/dsir/gopher arm
Appends one JSON line per measurement; ~10-25 min total (full).
"""

from __future__ import annotations

import json
import re
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from bench import _host_control  # noqa: E402
from simple_html_parser_spark.operators import dedup as D  # noqa: E402
from simple_html_parser_spark.operators.curation import curate_web  # noqa: E402
from simple_html_parser_spark.runtime.session import (  # noqa: E402
    get_spark, release,
)

SF_DIR = "/root/testdata/sf0.1"
REPL = 80  # 5k base docs × 80 = 400k


def replicated(spark, mult: int) -> DataFrame:
    raw = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
           .select("doc_id", "text", "lang", "source"))
    return (raw.withColumn(
        "rep", F.explode(F.sequence(F.lit(0), F.lit(mult - 1))))
        .withColumn("doc_id", F.col("doc_id") * mult + F.col("rep"))
        .drop("rep")
        .repartition(64, F.xxhash64("doc_id")))


N_DOCS = 400_000
PLANT_EVERY = 100  # doc i (i < N/2, i % 100 == 0) twins doc N/2 + i
TOKENS = 200
SHARED = 190  # twin shares the first 190 tokens


def planted(spark) -> DataFrame:
    """400k unique-text docs + 2000 planted near-dup twins.  Token t
    of doc d is md5(seed)-derived where seed = base_id for the shared
    prefix (twin inherits it) and a doc-unique value for the tail."""
    half = N_DOCS // 2
    ids = spark.range(N_DOCS).select(F.col("id").alias("doc_id"))
    is_twin = (F.col("doc_id") >= half) & \
        ((F.col("doc_id") - half) % PLANT_EVERY == 0)
    base_id = F.when(is_twin, F.col("doc_id") - half) \
        .otherwise(F.col("doc_id"))
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(TOKENS)),
            lambda i: F.substring(
                F.md5(F.concat(
                    F.when(i <= SHARED, base_id.cast("string"))
                    .otherwise(F.col("doc_id").cast("string")),
                    F.lit(":"), i.cast("string"))), 1, 8)),
        " ")
    return (ids.select("doc_id", text.alias("text"),
                       F.lit("en").alias("lang"),
                       F.lit("plant").alias("source"))
            .repartition(64, F.xxhash64("doc_id")))


def timed(name: str, make_df, out: list) -> int:
    """make_df is a THUNK: dedup_clusters / curate_web run eager
    localCheckpoint jobs at DataFrame-CONSTRUCTION time, so building
    the frame must happen inside the timed window."""
    ctl0 = _host_control(400_000)
    t0 = time.perf_counter()
    n = make_df().count()
    wall = round(time.perf_counter() - t0, 1)
    ctl1 = _host_control(400_000)
    rec = {"name": name, "wall_s": wall, "rows": n,
           "host_ctl": [ctl0, ctl1]}
    print(json.dumps(rec), flush=True)
    out.append(rec)
    return n


def exchange_count(df: DataFrame, spark) -> int:
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    return len(re.findall(r"\n\(\d+\) Exchange", plan))


def shuffle_bytes(spark) -> int:
    """Total shuffle-write bytes across all completed stages (cheap
    cumulative proxy for exchange width; diff before/after a job)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    args = [sc._jvm.java.util.ArrayList()] + [
        getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
    it = store.stageList(*args).iterator()
    total = 0
    while it.hasNext():
        total += it.next().shuffleWriteBytes()
    return int(total)


def substr_arm(spark, results: list) -> None:
    """dedup_substrings at 400k planted docs: closed-form correctness
    (4000 docs x exactly 190 tokens removed) + md5-vs-xxhash64
    exchange width and wall head-to-head."""
    pl = planted(spark)
    half, n_twins = N_DOCS // 2, (N_DOCS // 2) // PLANT_EVERY
    for hname in ("md5", "xxhash64"):
        release(spark)
        sw0 = shuffle_bytes(spark)
        ctl0 = _host_control(400_000)
        t0 = time.perf_counter()
        agg = (D.dedup_substrings(pl, window=32, span_hash=hname)
               .agg(F.sum((F.col("n_removed") > 0).cast("int"))
                    .alias("docs_hit"),
                    F.sum("n_removed").alias("tok_removed"),
                    F.min(F.when(F.col("n_removed") > 0,
                                 F.col("n_removed"))).alias("min_hit"),
                    F.max("n_removed").alias("max_hit"),
                    F.count("*").alias("rows")).collect()[0])
        wall = round(time.perf_counter() - t0, 1)
        ctl1 = _host_control(400_000)
        ok = (agg.rows == N_DOCS and agg.docs_hit == 2 * n_twins
              and agg.min_hit == SHARED and agg.max_hit == SHARED
              and agg.tok_removed == 2 * n_twins * SHARED)
        rec = {"name": f"plant400k_substr_{hname}", "wall_s": wall,
               "rows": agg.rows, "docs_hit": agg.docs_hit,
               "tok_removed": agg.tok_removed,
               "closed_form_exact": ok,
               "shuffle_write_bytes": shuffle_bytes(spark) - sw0,
               "host_ctl": [ctl0, ctl1]}
        print(json.dumps(rec), flush=True)
        results.append(rec)


def r5ops_arm(spark, results: list) -> None:
    """lm_fluency / dsir_weights / gopher_rules at 400k replicated
    docs: plan stability, wall + host controls, replication
    invariance (all row multiplicities divisible by 80), and the
    fluency histogram / dsir bucket-table size bounds."""
    from simple_html_parser_spark.operators import dsir as DI
    from simple_html_parser_spark.operators import fluency as FL
    from simple_html_parser_spark.operators import gopher as GO

    small = replicated(spark, 8)
    big = replicated(spark, REPL)

    def mk_fluency(d):
        return FL.lm_fluency(d.select("doc_id", "text", "lang"))

    def mk_dsir(d):
        return DI.dsir_weights(
            d.select("doc_id", "text"),
            d.filter(F.col("lang") == "en").select("doc_id", "text"),
            n_buckets=8192)

    def mk_gopher(d):
        return GO.gopher_rules(d.select("doc_id", "text"),
                               min_words=20)

    for nm, mk in (("fluency", mk_fluency), ("dsir", mk_dsir),
                   ("gopher", mk_gopher)):
        ex_s = exchange_count(mk(small), spark)
        ex_b = exchange_count(mk(big), spark)
        rec = {"name": f"plan_stability_{nm}", "exchanges_40k": ex_s,
               "exchanges_400k": ex_b, "stable": ex_s == ex_b}
        print(json.dumps(rec), flush=True)
        results.append(rec)

    def run(nm, mk, extras=None):
        release(spark)
        ctl0 = _host_control(400_000)
        t0 = time.perf_counter()
        out = mk(big)
        val_cols = [c for c in out.columns if c != "doc_id"]
        grouped = (out.groupBy(*val_cols)
                   .agg(F.count("*").alias("_n")))
        agg = grouped.agg(
            F.sum("_n").alias("rows"),
            F.count("*").alias("distinct_rows"),
            F.sum((F.col("_n") % REPL != 0).cast("int"))
            .alias("non_mult80")).collect()[0]
        wall = round(time.perf_counter() - t0, 1)
        rec = {"name": f"repl400k_{nm}", "wall_s": wall,
               "rows": agg.rows, "distinct_rows": agg.distinct_rows,
               "replication_invariant": agg.non_mult80 == 0,
               "host_ctl": [ctl0, _host_control(400_000)]}
        if extras:
            rec.update(extras())
        print(json.dumps(rec), flush=True)
        results.append(rec)

    def fluency_extras():
        hist = (FL.lm_fluency(big.select("doc_id", "text", "lang"))
                .groupBy("lang")
                .agg(F.countDistinct("fluency_bp").alias("h"))
                .agg(F.max("h").alias("m")).collect()[0])
        return {"max_lang_histogram_rows": hist.m,
                "histogram_bound_10001": hist.m <= 10001}

    def dsir_extras():
        nb = (DI.hashed_bigram_buckets(
            big.select("doc_id", "text"), 8192)
            .agg(F.countDistinct("bkt").alias("b")).collect()[0])
        return {"distinct_buckets": nb.b,
                "bucket_bound_8192": nb.b <= 8192}

    run("fluency", mk_fluency, fluency_extras)
    run("dsir", mk_dsir, dsir_extras)
    run("gopher", mk_gopher)


def r5comp_arm(spark, results: list) -> None:
    """curate_full + massivetext_repetition at 400k replicated docs:
    the composite on the duplication-pathological corpus (every LSH
    bucket over the cap, exact dedup collapsing 80x replicas) and the
    heaviest pure-map filter's wall."""
    from simple_html_parser_spark.operators import gopher as GO
    from simple_html_parser_spark.operators.curation import curate_full

    big = replicated(spark, REPL)
    for nm, mk in (
        ("curate_full", lambda: curate_full(
            big, gopher_min_words=20, gopher_stops=("the", "a"))),
        ("repetition", lambda: GO.massivetext_repetition(
            big.select("doc_id", "text"))),
    ):
        release(spark)
        timed(f"repl400k_{nm}", mk, results)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    only: list[str] = []
    if "--only" in args:
        i = args.index("--only")
        only = args[i + 1:]
        args = args[:i]
    out_path = args[0] if args else "SCALE_rehearsal.json"
    spark = get_spark("scale-rehearsal")
    results: list = []

    if only:
        if "substr" in only:
            substr_arm(spark, results)
        if "r5ops" in only:
            r5ops_arm(spark, results)
        if "r5comp" in only:
            r5comp_arm(spark, results)
        with open(out_path, "a", encoding="utf-8") as f:
            f.write(json.dumps(results) + "\n")
        spark.stop()
        return

    # plan stability: 40k vs 400k must compile to the same shape
    small = replicated(spark, 8)
    big = replicated(spark, REPL)
    ex_small = exchange_count(D.dedup_minhash_lsh(
        small, threshold=0.30, max_shingle_df="auto"), spark)
    ex_big = exchange_count(D.dedup_minhash_lsh(
        big, threshold=0.30, max_shingle_df="auto"), spark)
    rec = {"name": "plan_stability_minhash",
           "exchanges_40k": ex_small, "exchanges_400k": ex_big,
           "stable": ex_small == ex_big}
    print(json.dumps(rec), flush=True)
    results.append(rec)

    # --- replicated pathology: caps must bound candidate growth ----
    timed("repl400k_minhash", lambda: D.dedup_minhash_lsh(
        big, threshold=0.30, max_shingle_df="auto"), results)
    release(spark)
    timed("repl400k_simhash", lambda: D.dedup_simhash(
        big, max_hamming=3), results)
    release(spark)
    timed("repl400k_clusters", lambda: D.dedup_clusters(
        big, threshold=0.30, max_shingle_df="auto"), results)
    release(spark)
    timed("repl400k_curate_web", lambda: curate_web(big), results)
    release(spark)

    # --- planted recall at 400k (caps never fire; buckets ~1) ------
    pl = planted(spark)
    pairs = D.dedup_minhash_lsh(pl, threshold=0.30,
                                max_shingle_df="auto")
    ctl0 = _host_control(400_000)
    t0 = time.perf_counter()
    half = N_DOCS // 2
    found = (pairs
             .where((F.col("doc_b") - F.col("doc_a") == half)
                    & (F.col("doc_a") % PLANT_EVERY == 0))
             .count())
    total = pairs.count()
    wall = round(time.perf_counter() - t0, 1)
    expected = half // PLANT_EVERY
    rec = {"name": "plant400k_minhash", "wall_s": wall,
           "planted_found": found, "planted_expected": expected,
           "recall": round(found / expected, 4), "total_pairs": total,
           "host_ctl": [ctl0, _host_control(400_000)]}
    print(json.dumps(rec), flush=True)
    results.append(rec)

    with open(out_path, "a", encoding="utf-8") as f:
        f.write(json.dumps(results) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
