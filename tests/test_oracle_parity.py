"""DuckDB parity for the declared queries that run through the
per-document Arrow stages or a streaming snapshot: each query's Spark
result must equal its ``oracle_sql()`` on the sf0.01 testdata,
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
QUERIES = ARROW_STAGE_QUERIES + STREAMING_QUERIES


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


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_duckdb_oracle(spark, name):
    assert oracle_check.check(SF, [name], spark=spark) == 0
