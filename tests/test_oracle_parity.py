"""Tier-1's correctness gate, built from the two registries: every
query declared in ``__spark_entry__.py`` must equal its ``oracle_sql()``
on the sf0.01 testdata (compared by tools/oracle_check.py), and every
plan audit in ``tools/make_plans.AUDITS`` must pass
(``make_plans.audit_failures``), both inside this module's Spark
session (``local[4]``, 8 shuffle partitions, as make_plans.py uses)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

import oracle_check  # noqa: E402
from make_plans import (  # noqa: E402  (SF: the sf0.01 testdata dir)
    AUDITS, SF, audit_failures, formatted_plan,
)

import __spark_entry__ as entrymod  # noqa: E402
from bench import HEADLINE_QUERIES  # noqa: E402
from simple_html_parser_spark.runtime.session import (  # noqa: E402
    get_spark, release,
)


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-oracle", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def test_queries_are_declared_with_oracles():
    """Every declared query has an oracle, and every name bench.py and
    make_plans.py select is a declared query."""
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert list(queries) == list(oracles)
    selected = list(HEADLINE_QUERIES) + [name for name, *_ in AUDITS]
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


def test_shingle_ids_do_not_collide(spark):
    """The near-dup operators work on bigint xxhash64 shingle ids while
    their DuckDB oracles compare shingle strings; the results agree
    only while no two distinct shingles share an id, so the corpus
    must have as many distinct ids as distinct strings."""
    from simple_html_parser_spark.operators import dedup as D
    from simple_html_parser_spark.sources.documents import load_table

    docs = load_table(spark, SF, "documents")
    n_strings = (
        docs.select(D.tokens_col().alias("_t"))
        .select(F.explode(D.shingles_col(F.col("_t"))).alias("s"))
        .distinct().count())
    n_ids = D._exploded_shingles(docs, 3).select("sh").distinct().count()
    release(spark)
    assert n_ids == n_strings > 0


@pytest.mark.parametrize("name", list(entrymod.queries()))
def test_query_matches_duckdb_oracle(spark, name):
    assert oracle_check.check(SF, [name], spark=spark) == 0


@pytest.mark.parametrize("audit", AUDITS, ids=lambda audit: audit[0])
def test_plan_audit(spark, audit):
    name, _, must, must_not = audit
    try:
        plan = formatted_plan(spark, entrymod.queries()[name](spark, SF))
    finally:
        release(spark)
    assert audit_failures(name, plan, must, must_not) == []
