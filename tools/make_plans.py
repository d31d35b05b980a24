"""Regenerate PLANS.md — `explain("formatted")` audit for the headline
queries at sf0.01, trimmed to the plan skeleton + ReadSchema lines.

    python3 tools/make_plans.py

Each query carries an audit note (what the plan MUST show) and
optional assertions (substring must / must-not appear), checked by
``audit_failures`` here and, per query, by tier-1's
``tests/test_oracle_parity.py``, so plan regressions fail loudly.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SF = "/root/testdata/sf0.01"

# (name, audit note, must-contain, must-NOT-contain)
AUDITS: list[tuple[str, str, list[str], list[str]]] = [
    ("extract_parity",
     "scan must read ONLY (doc_id,text,lang,source); one exchange of "
     "compact rows; single MapInArrow",
     ["MapInArrow"], []),
    ("doc_roundtrip",
     "serialization round-trip: union of 4 rendered variants, still a "
     "single MapInArrow per branch, scan pruned to 4 columns",
     ["MapInArrow"], []),
    ("doc_edit_pipeline",
     "parse → query → mutate → serialize, one MapInArrow stage",
     ["MapInArrow"], []),
    ("kernel_query_api",
     "selector engine per doc, one MapInArrow stage; exactly ONE "
     "exchange — the r6 repartition-after-read that spreads the "
     "single-row-group scan across cores (REPARTITION_BY_NUM; the "
     "Python stage otherwise runs as one task)",
     ["MapInArrow", "REPARTITION_BY_NUM"], []),
    ("css_query_api",
     "cssFind* per doc, one MapInArrow stage; one repartition "
     "exchange (the r6 single-row-group-scan fix, as above)",
     ["MapInArrow", "REPARTITION_BY_NUM"], []),
    ("dedup_ngram_jaccard",
     "shingle self-join co-partitioned; df-cut via broadcast "
     "anti-join; sizes joined via BroadcastHashJoin (exact oracle "
     "form — the scale path is dedup_minhash_lsh)",
     ["BroadcastHashJoin"], []),
    ("dedup_minhash_lsh",
     "NO all-pairs shingle self-join: banded (band,key) bucket join "
     "for candidates; verification semi-joins (LeftSemi) the ONE "
     "persisted shingle frame down to candidate docs, then "
     "array_intersect per candidate pair (VERDICT r01 item 1)",
     ["LeftSemi", "InMemoryTableScan"], []),
    ("dedup_simhash",
     "banded hamming candidate join over 64-bit signatures; no "
     "shingle join at all; hot (band,key) buckets pruned via "
     "broadcast LeftAnti before the self-join (max_bucket=64, "
     "VERDICT r03 item 3)",
     ["LeftAnti"], []),
    ("embedding_srp_lsh",
     "SRP-LSH candidates banded on (vec_id, band, key) ONLY — the "
     "64-float embedding never crosses the band exchange (checked "
     "below: no Generate/explode operator outputs an embedding "
     "column); pairs are distinct'd (HashAggregate) BEFORE one "
     "cosine per pair (VERDICT r2 'What's wrong' item 1)",
     ["HashAggregate"], []),
    ("sim_topk",
     "TakeOrderedAndProject (no global sort shuffle)",
     ["TakeOrderedAndProject"], ["Sort ("]),
    ("ann_ivf_topk",
     "probed labels BroadcastHashJoin into the scan",
     ["BroadcastHashJoin", "TakeOrderedAndProject"], []),
    ("curation_pipeline",
     "end-to-end composition: LeftSemi against exact-dup keepers, "
     "anti-join against near-dup losers (NO forced broadcast — the "
     "loser set is corpus-proportional on duplication-heavy crawls, "
     "AQE decides; VERDICT r2 'What's wrong' item 2), quality/lang "
     "filters pushed into the shared scans",
     ["LeftSemi"], []),
    ("frame_sample",
     "windowed digests via explode+substr+sha2 — pure built-ins, "
     "whole-stage codegen, no Python stage",
     ["Generate"], ["MapInArrow", "MapInPandas"]),
    ("pdf_text_extract",
     "north-rule PDF/layout parse: payloads rendered JVM-side "
     "(codegen concat/length — the xref offsets are column "
     "expressions), then ONE MapInArrow stage (a _DocStage); one "
     "repartition exchange (the r6 single-row-group-scan fix: the "
     "Python PDF parse otherwise runs as one task — A/B 1.40 -> "
     "0.84s); scan pruned to (doc_id, source)",
     ["MapInArrow", "REPARTITION_BY_NUM"], []),
    ("dedup_lines",
     "CCNet-style line dedup: winner election is a hash AGGREGATE on "
     "the segment over a SCALAR bigint key (map-side partial min "
     "absorbs boilerplate hot keys; a struct key would demote to "
     "SortAggregate), never a row_number window sort; reassembly's "
     "collect_list agg is the only object agg",
     ["HashAggregate"], ["Window", "SortAggregate"]),
    ("decontaminate",
     "benchmark shingle set broadcast (eval suites are small vs the "
     "crawl): hits marked by BroadcastHashJoin — the corpus side is "
     "one explode + hash-agg pass with NO shuffle on the shingle key",
     ["BroadcastHashJoin"], ["SortMergeJoin"]),
    ("crawl_delta",
     "snapshot diff: one full-outer shuffle join on url between the "
     "two snapshots, then a host/status hash-agg; at prod both "
     "snapshots are bucketed by url-hash making the join co-located",
     ["FullOuter", "HashAggregate"], ["NestedLoop"]),
    ("crawl_domain_mix",
     "stratified mixing: weights table broadcast LEFT join + one "
     "codegen filter — the fetch log never shuffles",
     ["BroadcastHashJoin"],
     # 'hashpartitioning' (a shuffle's Arguments line), NOT plain
     # 'Exchange' — the intended BroadcastExchange would false-match,
     # and 'Exchange hashpartitioning' never appears in formatted mode
     # (the node name and its Arguments print on separate lines)
     ["SortMergeJoin", "hashpartitioning"]),
    ("crawl_blocklist",
     "blocklist anti-join: equi-keyed on host (BroadcastHashJoin "
     "LeftAnti with the path-prefix test as the join residual) — "
     "NEVER a nested-loop over the fetch log",
     ["BroadcastHashJoin"], ["NestedLoop"]),
    ("crawl_dedup_latest",
     "refetch collapse: ONE hash-aggregate on url with map-side "
     "partial max/max_by — no window sort over the fetch log",
     ["HashAggregate"], ["Window"]),
    ("warc_records",
     "WARC container parse: ONE Arrow-batched Python stage walking "
     "files by Content-Length; the body binary column is pruned away "
     "when only metadata is selected",
     ["MapInArrow"], ["MapInPandas"]),
    ("warc_extract",
     "WARC-in -> extracted-text-out: parse stage chains into the "
     "extraction stage with a (url, html)-pruned handoff and NO "
     "exchange between the two Python stages (the only Exchange in "
     "the plan is the synthetic file render's groupBy)",
     ["MapInArrow"], []),
    ("curate_web",
     "full web flow (scrub -> lang/quality/oov -> exact + near-dup "
     "dedup) in one declarative plan: the PII scrub is a PROJECTION "
     "re-derived inside each branch's scan (never a corpus self-join "
     "against pii_scrub output), the OOV head and df-cut are "
     "broadcast, keepers via LeftSemi, losers via anti-join under "
     "AQE",
     ["LeftSemi", "BroadcastHashJoin"], []),
    ("pii_scrub",
     "PII anonymization is a pure per-row regexp pass: whole-stage "
     "codegen, no exchange, no Python stage — fuses into whatever "
     "scan feeds it",
     ["codegen id"], ["Exchange", "MapInArrow", "MapInPandas"]),
    ("oov_stats",
     "OOV quality signal: common-vocab head joined via "
     "BroadcastHashJoin (the Zipf head is small) — corpus side is one "
     "explode + partial-aggregating hash-agg, no shuffle on the "
     "token key",
     ["BroadcastHashJoin"], ["SortMergeJoin"]),
    ("crawl_domain_quota",
     "per-domain cap: SALTED two-phase top-k — phase-1 window on "
     "(host, salt) bounds any single sort group to |host|/16, phase-2 "
     "re-ranks <= k*16 survivors per host (a viral host never sorts "
     "in one task)",
     ["Window"], []),
    ("crawl_domain_sample",
     "deterministic md5-bucket sample is a pure filter: no exchange, "
     "no Python stage",
     [], ["Exchange", "MapInArrow", "MapInPandas"]),
    ("charset_extract",
     "byte→string sniff + extraction stays ONE Arrow stage: the "
     "5-encoding payload render is a codegen projection feeding the "
     "same single MapInArrow hot path (sniff_charset=True); one "
     "repartition exchange (the r6 single-row-group-scan fix)",
     ["MapInArrow", "REPARTITION_BY_NUM"], ["MapInPandas"]),
    ("ann_kmeans_topk",
     "learned-IVF probe with ZERO corpus exchanges: cell assignment "
     "is a per-row fold over the 1-row broadcast centroid frame "
     "(BroadcastNestedLoopJoin Cross of ONE row — not a corpus "
     "shuffle), probed cells arrive via BroadcastHashJoin LeftSemi, "
     "top-k via TakeOrderedAndProject; the only Exchange in the plan "
     "is the k-row centroid aggregation itself",
     ["BroadcastNestedLoopJoin Cross", "BroadcastHashJoin LeftSemi",
      "TakeOrderedAndProject"], ["SortMergeJoin"]),
    ("tfidf_topk",
     "integer tf-idf keywords: tf is one explode + partial-"
     "aggregating hash-agg on (doc_id, term); df REUSES the "
     "aggregated tf frame (no second corpus pass); N arrives as a "
     "1-row broadcast; the only Window partitions by doc_id so each "
     "sort group is one document's distinct terms, never the corpus; "
     "no Python stage",
     ["HashAggregate", "Window", "BroadcastNestedLoopJoin Cross"],
     ["MapInArrow", "MapInPandas"]),
    ("semantic_dedup",
     "SemDeDup: cell assignment is the same map-only per-row fold as "
     "ann_kmeans_topk (1-row broadcast centroid frame, no corpus "
     "exchange to learn the cell), centroid distances via broadcast "
     "k-row join; the ONLY quadratic work is the within-cell pair "
     "join — an equi-join on cid (never a cartesian product), with "
     "the embedding crossing the exchange once per vector per side; "
     "no Python stage, no window",
     ["BroadcastNestedLoopJoin Cross", "SortMergeJoin"],
     ["CartesianProduct", "MapInArrow", "MapInPandas", "Window"]),
    ("dedup_clusters",
     "connected components converge INSIDE the checkpointed loop: "
     "the returned label frame is a projection of the final "
     "localCheckpoint RDD — no join, exchange, or Python stage "
     "survives into the consumer-visible plan (curation pipelines "
     "compose against materialized partitions)",
     ["Scan ExistingRDD"], ["Join", "Exchange", "MapInArrow"]),
    ("crawl_token_budget",
     "token-budget mixing NEVER sorts a whole group: the corpus side "
     "is one partial-aggregating hash-agg onto the (group, 4096-"
     "bucket) histogram; both windows run on bounded frames (the "
     "histogram itself, and the single crossing bucket per group) "
     "and rejoin the corpus via broadcast — no corpus sort-merge "
     "join, no group-wide window",
     ["BroadcastHashJoin", "HashAggregate"], ["SortMergeJoin"]),
    ("link_graph",
     "anchors → weighted host edges is ONE Arrow stage + ONE "
     "partial-aggregating hash-agg (map-side combine absorbs host "
     "skew); no join anywhere",
     ["MapInArrow", "HashAggregate"],
     ["SortMergeJoin", "BroadcastHashJoin"]),
    ("link_pagerank",
     "iterative integer PageRank converges INSIDE the per-sweep "
     "localCheckpoint loop (the dedup_clusters pattern): the "
     "consumer-visible plan is a scan of the final checkpointed "
     "ranks — no sweep joins, exchanges, or Python stages accrete",
     ["Scan ExistingRDD"], ["Join", "Exchange", "MapInArrow"]),
    ("dedup_substrings",
     "ExactSubstr (Lee et al. 2021): duplicate detection is a hash "
     "AGGREGATE on the span hash (map-side partial count absorbs "
     "boilerplate spans before the exchange); the hit join back is a "
     "co-partitioned shuffle equi-join; per-doc start collection is "
     "bounded by the doc's own token count — no corpus-proportional "
     "broadcast, no window sort, no Python stage",
     ["HashAggregate"], ["Window", "MapInArrow", "MapInPandas"]),
    ("lm_fluency",
     "CCNet-style fluency: LM training is a map-side-combined "
     "hash-agg on (lang, bigram); scoring is a co-partitioned "
     "equi-join of the per-token bigram frame against the pruned LM "
     "(AQE may broadcast it); the ONLY Window sorts the (lang, "
     "fluency_bp) HISTOGRAM (<= 10001 rows/lang), never the corpus — "
     "the bucket-label join back is an explicit broadcast; no Python "
     "stage",
     ["HashAggregate", "Window", "BroadcastHashJoin"],
     ["MapInArrow", "MapInPandas", "CartesianProduct"]),
    ("curate_full",
     "the full recipe in ONE plan: the Gopher gate is an INLINE "
     "filter over the scrubbed scan (no self-join), fluency arrives "
     "as an aggregating extra_frame like oov_stats (its only Window "
     "sorts the per-lang score histogram), exact-dup keepers LeftSemi "
     "and near-dup losers anti-join with AQE-decided broadcasts; no "
     "Python stage",
     ["LeftSemi", "Window"], ["MapInArrow", "MapInPandas",
                              "CartesianProduct"]),
    ("gopher_rules",
     "Gopher quality rules are ONE codegen'd projection over the "
     "pruned scan — no shuffle, no join, no aggregate, no Python "
     "stage (the same zero-shuffle shape as quality_score)",
     ["Project"], ["Exchange", "HashAggregate", "Window",
                   "MapInArrow", "MapInPandas", "CartesianProduct"]),
    ("repetition_filters",
     "MassiveText repetition suite: run-length folds over sorted "
     "per-row gram arrays — still ONE projection over the pruned "
     "scan, no shuffle/join/aggregate/Python",
     ["Project"], ["Exchange", "HashAggregate", "Window",
                   "MapInArrow", "MapInPandas", "CartesianProduct"]),
    ("dsir_weights",
     "DSIR hashed-bigram importance weights: BOTH count tables are "
     "bounded at n_buckets rows (map-side-combined hash-aggs), so "
     "the weight table joins the corpus bigrams via "
     "BroadcastHashJoin; corpus-side shuffle is only the per-doc "
     "groupBy(doc_id); no window, no Python stage",
     ["HashAggregate", "BroadcastHashJoin"],
     ["Window", "MapInArrow", "MapInPandas", "CartesianProduct"]),
    ("q1_pricing",
     "partial HashAggregate before exchange (map-side combine)",
     ["HashAggregate"], []),
    ("q3_top_orders",
     "customer side broadcast",
     ["BroadcastHashJoin"], []),
    ("events_topk",
     "single exchange on user_id, window, filter",
     ["Window"], []),
]


def _skeleton(plan: str) -> str:
    """The numbered operator tree (drop the verbose per-op sections).
    An operator line may end in an attribute group after its number,
    e.g. ``InMemoryTableScan (1) (columnarIn=false, columnarOut=true)``
    for a cache of fixed-width columns."""
    lines = plan.splitlines()
    out = []
    for ln in lines:
        if ln.startswith("== Physical Plan =="):
            out.append(ln)
            continue
        if re.match(r"^[\s:+*-]*[A-Za-z].*\(\d+\)( \(.*\))?\s*$", ln):
            out.append(ln)
        elif out and ln.strip() == "":
            break
    return "\n".join(out)


def formatted_plan(spark, df) -> str:
    """``df.explain("formatted")`` as a string."""
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def audit_failures(name: str, plan: str, must: list[str],
                   must_not: list[str]) -> list[str]:
    """The audit failures of one query's formatted plan: each missing
    must-substring, each present must-not-substring, and, for
    embedding_srp_lsh, an embedding column on a Generate (the banded
    explode must not carry the embedding payload)."""
    fails = [f"missing {s!r}" for s in must if s not in plan]
    fails += [f"contains {s!r}" for s in must_not if s in plan]
    if name == "embedding_srp_lsh" and any(
            chunk.startswith("Generate") and "embedding" in chunk
            for chunk in re.split(r"\n\(\d+\) ", plan)):
        fails.append("embedding column crosses the band explode")
    return fails


def main() -> None:
    from simple_html_parser_spark.runtime.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    qs = entry.queries()
    parts = ["""# Physical plan audit

`df.explain("formatted")` for the headline queries at sf0.01
(regenerate: `python3 tools/make_plans.py`) — checked per the scale
criteria in the build brief: column pruning reaches the scan
(`ReadSchema`), small sides broadcast, aggregates are partial
(map-side combine), top-k avoids global sorts, the extraction
pipeline has exactly one Python stage, and dedup_minhash_lsh contains
NO all-pairs shingle self-join (LeftSemi candidate prune instead).
"""]
    failures = 0
    for name, audit, must, must_not in AUDITS:
        plan = formatted_plan(spark, qs[name](spark, SF))
        for fail in audit_failures(name, plan, must, must_not):
            print(f"AUDIT FAIL {name}: {fail}")
            failures += 1
        schemas = sorted(set(re.findall(r"ReadSchema: \S+", plan)))
        parts.append(f"## {name}\n\n*Audit:* {audit}\n\n```\n"
                     f"{_skeleton(plan)}\n```\n\n```\n"
                     + "\n".join(schemas) + "\n```\n")
        print(f"ok  {name}")
    (ROOT / "PLANS.md").write_text("\n".join(parts), encoding="utf-8")
    print(f"wrote PLANS.md ({len(AUDITS)} plans, {failures} audit "
          f"failures)")
    spark.stop()
    raise SystemExit(1 if failures else 0)


if __name__ == "__main__":
    main()
