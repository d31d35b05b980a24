"""DuckDB parity for the declared queries that run through the
per-document Arrow stages or a streaming snapshot, and for the queries
whose oracles are built from the shared operator replays: each query's
Spark result must equal its ``oracle_sql()`` on the sf0.01 testdata,
compared by tools/oracle_check.py inside this module's Spark session."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

import oracle_check  # noqa: E402
from make_plans import AUDITS, SF  # noqa: E402  (SF: the sf0.01 testdata dir)

import __spark_entry__ as entrymod  # noqa: E402
from bench import HEADLINE_QUERIES  # noqa: E402
from simple_html_parser_spark.runtime.session import get_spark  # noqa: E402

ARROW_STAGE_QUERIES = (
    "extract_parity", "extract_main_content", "extract_stats",
    "nodes_type_counts",
    "kernel_query_api", "kernel_iterator_api", "css_query_api",
    "css_serialize_api", "doc_serialize_api", "doc_visualize",
    "doc_edit_pipeline", "doc_roundtrip",
    "charset_sniff", "charset_extract",
    "warc_records", "warc_extract",
    "image_features", "audio_features", "image_features_stub",
    "audio_features_stub", "pdf_text_extract",
)
# a real readStream -> writeStream run over the bounded table must equal
# the batch query over it
STREAMING_QUERIES = (
    "stream_windowed_metrics", "stream_sessionize", "stream_first_seen_dedup",
)
# oracles composed from the operator-replay fragments of
# __spark_entry__.py: a fragment that drifts from its operator shows here
COMPOSED_ORACLE_QUERIES = (
    "curation_pipeline", "dedup_clusters", "curate_full", "quality_score",
    "lang_id", "dedup_ngram_jaccard", "dedup_minhash_lsh", "curate_web",
    "oov_stats", "lm_fluency", "gopher_rules",
)
# near-dup operators built on dedup.shingle_frame / dedup.band_pairs
# that no composed oracle above already covers
SHARED_JOIN_QUERIES = (
    "dedup_simhash", "embedding_srp_lsh", "shingle_drop_stats",
)
# text operators built on dedup.ngrams_col / textstats.fingerprint_col
# (oracles on _ngrams_sql / _fingerprint_sql) that no tuple above covers
NGRAM_QUERIES = (
    "repetition_stats", "repetition_filters", "dedup_substrings",
    "dsir_weights", "doc_fingerprint",
)
QUERIES = (ARROW_STAGE_QUERIES + STREAMING_QUERIES + COMPOSED_ORACLE_QUERIES
           + SHARED_JOIN_QUERIES + NGRAM_QUERIES)


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-oracle", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def test_queries_are_declared_with_oracles():
    """Every name this module, bench.py and make_plans.py select must
    be a declared query, and every declared query has an oracle."""
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert list(queries) == list(oracles)
    selected = (list(QUERIES) + list(HEADLINE_QUERIES)
                + [name for name, *_ in AUDITS])
    assert [q for q in selected if q not in queries] == []


def test_oracle_fragments_are_declared_once():
    """Spark-free: each operator's DuckDB replay is written once in
    ``__spark_entry__.py`` and the composed oracles reuse it, so a
    distinctive expression of every fragment occurs exactly once in
    the source."""
    src = (ROOT / "__spark_entry__.py").read_text(encoding="utf-8")
    probes = (
        "ANTI JOIN hot h USING (sh)",                # _exf_ctes df-cut
        "FROM exf a JOIN exf b ON a.sh = b.sh",      # _PAIRS_CTES
        "JOIN edges e ON e.doc_a = r.other",         # _CLUSTER_CTES reach
        "'[^.,;:!?]'",                               # _quality_cte
        "list_intersect(t, st.words)",               # _LANG_CTES
        "tok NOT IN (SELECT tok FROM head)",         # _oov_ctes
        "length(bin(least(",                         # _fluency_ctes weight
        "ends_with(x, '...')",                       # _gopher_cte
        "regexp_replace(regexp_replace(regexp_replace(",  # _SCRUB_SQL
    )
    assert {p: src.count(p) for p in probes} == {p: 1 for p in probes}


def _operators_src() -> str:
    return "".join(
        f.read_text(encoding="utf-8") for f in sorted(
            (ROOT / "simple_html_parser_spark" / "operators").glob("*.py")))


def test_near_dup_joins_are_written_once():
    """Spark-free: the banded bucket self-join lives only in
    ``dedup.band_pairs`` and the df-cut anti-join only in
    ``dedup.shingle_frame``, so each distinctive expression occurs
    exactly once across the operators."""
    src = _operators_src()
    probes = ('F.col("a.band") == F.col("b.band")', '"sh", "left_anti"')
    assert {p: src.count(p) for p in probes} == {p: 1 for p in probes}


def test_ngrams_and_fingerprint_are_written_once():
    """Spark-free: n-grams are built only in ``dedup.ngrams_col`` (the
    other ``F.sequence`` calls are ``segments_col`` and
    ``multimodal.frame_sample``) and the char fold only in
    ``textstats.fingerprint_col``; the oracles' fold lives only in
    ``_fingerprint_sql``."""
    ops = _operators_src()
    entry = (ROOT / "__spark_entry__.py").read_text(encoding="utf-8")
    counts = {
        "F.sequence(": ops.count("F.sequence("),
        "* 31 + F.ascii(": ops.count("* 31 + F.ascii("),
        "(acc * 31 + c) % 2147483647":
            entry.count("(acc * 31 + c) % 2147483647"),
    }
    assert counts == {"F.sequence(": 3, "* 31 + F.ascii(": 1,
                      "(acc * 31 + c) % 2147483647": 1}


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_duckdb_oracle(spark, name):
    assert oracle_check.check(SF, [name], spark=spark) == 0
