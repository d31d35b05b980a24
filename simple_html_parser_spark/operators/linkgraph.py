"""Host-level link graph from extracted anchors + fixed-iteration
PageRank.

The web-graph layer of a crawl pipeline: anchors come out of the SAME
kernel hot path as text extraction (``parse_nodes`` — one Arrow stage
over (url, html)), hrefs resolve to destination hosts with pure
codegen expressions, and a single partial-aggregating hash-agg yields
weighted host->host edges.  PageRank over those edges is the classic
iterative Spark job: the edge frame is the loop invariant
(``localCheckpoint``-ed once, reused every sweep), the rank frame is
re-derived per sweep and ``localCheckpoint``-ed so the plan never
accretes (the ``dedup_clusters`` pattern — lineage depth is constant
in the iteration count).

Determinism contract (what makes the result oracle-able and stable
under AQE/retries/partitioning): all rank arithmetic is INTEGER.
Ranks live on a 1e12 grid; each sweep moves
``floor(rank*85*w / (wout*100))`` along every edge and adds the
``floor(15*scale/(100*N))`` teleport base.  Integer sums are
associative — summation order cannot perturb the result — and DuckDB
replays the sweeps exactly (`link_pagerank` oracle).  Mass leaks at
dangling hosts (no out-edges) and to per-edge floors, as in any
integer PageRank; ranking order, not mass conservation, is the
product.

Overflow bound (Spark 4 runs ANSI — bigint overflow THROWS, it never
wraps): the per-edge numerator is rank*85*w <= scale*85*w, so edge
weights must stay below ~1e5 at the default 1e12 scale; a guard
raises on violation rather than silently degrading.  At prod either
drop ``scale`` to 1e9 (weights to ~1e8) or pre-cap weights — the
ranking is insensitive to the cap long before the bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extraction import parse_nodes

# '<scheme>://<host>/...' — mirrored character-for-character in the
# DuckDB oracles (regexp_extract group 1 in both engines).
_HOST_RE = r"^[a-z][a-z0-9+.\-]*://([^/]+)"
_PROTO_REL_RE = r"^//([^/]+)"

MAX_EDGE_WEIGHT = 100_000  # ANSI overflow guard at scale=1e12


def host_link_graph(docs: DataFrame) -> DataFrame:
    """documents(url, html) → (src_host, dst_host, n_links) weighted
    edges.  Anchors are extracted through the real kernel
    (``parse_nodes`` mapInArrow stage); href resolution is pure
    codegen: absolute urls and protocol-relative ``//host/..`` carry
    their own host, anything else resolves against the source page's
    host.  One hash-agg (map-side partials absorb host skew — the
    viral-host edge is pre-combined per task before the exchange)."""
    # emission pruned to the four columns the anchor filter reads —
    # the Python stage otherwise builds and ships all 19 (guide §4)
    nodes = parse_nodes(docs, columns=["url", "type", "name", "attrs"])
    href = F.col("attrs")["href"]
    src = F.regexp_extract("url", _HOST_RE, 1)
    dst = (F.when(href.rlike(_HOST_RE),
                  F.regexp_extract(href, _HOST_RE, 1))
           .when(href.rlike(_PROTO_REL_RE),
                 F.regexp_extract(href, _PROTO_REL_RE, 1))
           .otherwise(src))
    return (nodes
            .where((F.col("type") == "tag-open") & (F.col("name") == "a")
                   & href.isNotNull())
            .select(src.alias("src_host"), dst.alias("dst_host"))
            .groupBy("src_host", "dst_host")
            .agg(F.count("*").alias("n_links")))


def host_pagerank(edges: DataFrame, iters: int = 3,
                  damping_pct: int = 85,
                  scale: int = 10 ** 12) -> DataFrame:
    """(src_host, dst_host, n_links) → (host, rank) after ``iters``
    integer-exact PageRank sweeps (see module docstring for the
    arithmetic and its determinism/overflow contract).

    Scale shape per sweep: ranks ⋈ out-weights (host-keyed equi-join,
    co-partitioned) → per-edge contribution (codegen projection) →
    hash-agg on dst → left join back onto the host universe.  The
    rank frame is localCheckpoint-ed each sweep, so sweep k's plan
    contains only sweep k (the final plan is audited join-depth-1 in
    PLANS.md).  The guarded edge frame is localCheckpoint-ed once,
    before ``hosts`` and ``outw`` are derived from it: every sweep
    reads all three, and without it each sweep's checkpoint re-runs
    the caller's whole edge plan (scan, windows, joins).  It is loop
    state, so a localCheckpoint and not ``session.persist``: nothing
    here owns a handles list to unpersist it."""
    guarded = edges.withColumn(
        "n_links",
        F.when(F.col("n_links") > MAX_EDGE_WEIGHT,
               F.raise_error(F.concat(
                   F.lit("host_pagerank: edge weight over the ANSI "
                         "overflow bound — cap weights or lower "
                         "scale: "),
                   F.col("n_links").cast("string"))))
        .otherwise(F.col("n_links"))).localCheckpoint(eager=True)

    hosts = (guarded.select(F.col("src_host").alias("host"))
             .unionByName(guarded.select(F.col("dst_host").alias("host")))
             .distinct())
    # 1-row universe size, broadcast — never a driver-side count
    # (same convention as dedup.py's df-cut).
    n_hosts = hosts.agg(F.count("*").alias("_n"))
    outw = guarded.groupBy("src_host").agg(
        F.sum("n_links").alias("wout"))

    base = F.expr(f"CAST({15 * scale} AS BIGINT) DIV (100 * _n)")
    ranks = (hosts.crossJoin(F.broadcast(n_hosts))
             .select("host",
                     F.expr(f"CAST({scale} AS BIGINT) DIV _n")
                     .alias("rank"))
             .localCheckpoint(eager=True))
    for _ in range(iters):
        contrib = (guarded
                   .join(ranks, guarded.src_host == ranks.host)
                   .join(outw, "src_host")
                   .select(F.col("dst_host").alias("host"),
                           F.expr(f"(rank * {damping_pct} * n_links) "
                                  f"DIV (wout * 100)").alias("c")))
        inflow = contrib.groupBy("host").agg(F.sum("c").alias("inflow"))
        ranks = (hosts.crossJoin(F.broadcast(n_hosts))
                 .join(inflow, "host", "left")
                 .select("host",
                         (base + F.coalesce(F.col("inflow"), F.lit(0))
                          ).cast("bigint").alias("rank"))
                 .localCheckpoint(eager=True))
    return ranks
