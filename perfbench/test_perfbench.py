"""Tests of the benchmark itself: seeded inputs are reproducible, and
the closed-form expectations agree with today's code on small seeds.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import corpus  # noqa: E402

from simple_html_parser_spark.kernel.extract import PARITY, extract  # noqa: E402
from simple_html_parser_spark.kernel.tokenizer import parse_html  # noqa: E402

MAKERS = {
    "text_heavy": lambda seed: corpus.text_heavy(seed, 40),
    "near_dup": lambda seed: corpus.near_dup(seed, 200),
}


@pytest.mark.parametrize("kind", sorted(MAKERS))
def test_same_seed_same_bytes(kind, tmp_path):
    a = corpus.write_parquet(MAKERS[kind](5), tmp_path / "a")
    b = corpus.write_parquet(MAKERS[kind](5), tmp_path / "b")
    c = corpus.write_parquet(MAKERS[kind](6), tmp_path / "c")
    assert len(a) > 1
    assert corpus.digest(a) == corpus.digest(b)
    assert corpus.digest(a) != corpus.digest(c)


def test_multi_row_group_parquet(tmp_path):
    import pyarrow.parquet as pq

    paths = corpus.write_parquet(MAKERS["text_heavy"](1), tmp_path,
                                 files=2, row_group_rows=8)
    assert all(pq.ParquetFile(p).num_row_groups > 1 for p in paths)


def _docs(c):
    return zip(c.rows["url"], c.rows["html"])


@pytest.mark.parametrize("seed", [1, 2])
def test_text_heavy_matches_kernel(seed):
    c = MAKERS["text_heavy"](seed)
    for url, raw in _docs(c):
        tree = parse_html(raw.decode("utf-8"))
        assert extract(tree, PARITY).text == c.expect_text[url]
        page = Counter(zip(tree.type, tree.name))
        assert corpus.count_key(page) == c.expect_doc_counts[url]


def test_node_failures_counts_changed_documents():
    import pyarrow as pa

    from simple_html_parser_spark.operators.extraction import (
        MAX_NODES_PER_DOC, _make_nodes_fn,
    )

    c = MAKERS["text_heavy"](4)
    batch = pa.record_batch([pa.array(c.rows["url"]),
                             pa.array(c.rows["html"], pa.binary())],
                            names=["url", "html"])
    out = list(_make_nodes_fn(MAX_NODES_PER_DOC)(iter([batch])))
    urls = c.rows["url"]
    assert c.node_failures(urls, out) == 0
    t = pa.Table.from_batches(out)
    assert c.node_failures(urls, t.slice(1).to_batches()) == 1
    assert c.node_failures(urls + ["https://missing.example/0"], out) == 1


def test_near_dup_pairs_match_dedup(tmp_path):
    """The planted pair set equals dedup_minhash_lsh's output."""
    from pyspark.sql import functions as F

    from simple_html_parser_spark.operators.dedup import dedup_minhash_lsh
    from simple_html_parser_spark.runtime.session import get_spark

    c = MAKERS["near_dup"](3)
    assert c.expect_pairs
    spark = get_spark("perfbench-test", master="local[2]",
                      extra_confs={"spark.driver.memory": "1g",
                                   "spark.local.dir": str(tmp_path)})
    try:
        docs = spark.createDataFrame(
            list(zip(c.rows["url"], c.rows["text"])), "url string, text string"
        ).select(F.element_at(F.split("url", "/"), -1).cast("long")
                 .alias("doc_id"), "text")
        got = {(r.doc_a, r.doc_b): r.jaccard
               for r in dedup_minhash_lsh(docs).collect()}
    finally:
        spark.stop()
    assert set(got) == set(c.expect_pairs)
    for pair, j in c.expect_pairs.items():
        assert got[pair] == pytest.approx(j, abs=1e-6)
