"""DataFrame-level selector operators over the exploded ``nodes`` view
(SURVEY.md §2.3 'Spark primitive' column): selector semantics as
vectorized column predicates, so tree queries can run as plain Spark
SQL across the whole corpus at once — no per-document Python.

Descendant matching uses the pre-order range containment invariant
(ancestor.node_id < d.node_id <= ancestor.subtree_end), a self-join
co-partitioned on url.  Result ordering: the kernel's querySelectorAll
is BFS (node.js:972-1027) — the ``bfs_rank`` column reproduces it, so
``ORDER BY bfs_rank`` equals the reference's result order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernel.jsre import JS_WS_CHARS

# JS \s+ splitter as a Java regex character class (for class matching)
_JS_WS_CLASS = "[" + "".join(
    "\\u%04x" % ord(c) for c in JS_WS_CHARS) + "]+"


def is_tag(name: str) -> Column:
    return (F.col("type") == "tag-open") & (F.col("name") == name)


def has_attr(attr: str) -> Column:
    return (F.col("type") == "tag-open") \
        & F.col("attrs")[attr].isNotNull()


def has_class(cls: str) -> Column:
    """Reference semantics: class list split on JS whitespace, exact
    token membership (node.js:992-999)."""
    return (F.col("type") == "tag-open") & F.array_contains(
        F.split(F.coalesce(F.col("attrs")["class"], F.lit("")),
                _JS_WS_CLASS),
        cls)


def select_nodes(nodes: DataFrame, predicate: Column) -> DataFrame:
    """All matching nodes corpus-wide, in reference (BFS) order per
    document."""
    return (nodes.where(predicate)
            .select("url", "node_id", "bfs_rank", "name", "attrs"))


def descendant_select(
    nodes: DataFrame, ancestor_pred: Column, descendant_pred: Column,
) -> DataFrame:
    """``anc desc`` selector: pre-order range self-join per url.
    At scale both sides shuffle once on url (co-partitioned); the
    ancestor side is usually small after its predicate → broadcastable
    for selective selectors."""
    anc = (nodes.where(ancestor_pred)
           .select("url", F.col("node_id").alias("anc_id"),
                   F.col("subtree_end").alias("anc_end")))
    desc = nodes.where(descendant_pred).select(
        "url", "node_id", "bfs_rank")
    return (
        desc.join(anc, ["url"])
        .where((F.col("node_id") > F.col("anc_id"))
               & (F.col("node_id") <= F.col("anc_end")))
        .select("url", "node_id", "bfs_rank")
        .distinct()
    )


def count_matches_per_doc(nodes: DataFrame, predicate: Column,
                          alias: str = "n") -> DataFrame:
    return (nodes.where(predicate)
            .groupBy("url").agg(F.count("*").alias(alias)))
