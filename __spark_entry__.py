"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction pipeline on sf0.001.
``queries()`` — every implemented operator (SURVEY.md §2 + the
training-data ops), each a (spark, sf_dir) → DataFrame callable.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query.

Each query is declared exactly once, by a module-level
``_q(name, sql, build)`` call that puts its DuckDB oracle next to its
Spark builder; declaring a name twice raises at import.  ``queries()``
and ``oracle_sql()`` both read that one ordered registry, so they share
its keys and its order.  The order is the registration order the driver
sees, and the driver's CORRECTNESS file covers only the FIRST 50
declarations: moving a query across that line changes what the driver
checks (OPTIMIZATION_r06.md, "Driver-window rotation", records how the
current window was chosen).

Each operator's DuckDB replay is written once, as a fragment of CTEs
over a source relation (``_exf_ctes``, ``_PAIRS_CTES``,
``_CLUSTER_CTES``, ``_dedup_ctes``, ``_quality_cte``, ``_LANG_CTES``,
``_oov_ctes``, ``_fluency_ctes``, ``_gopher_cte``, ``_SCRUB_SQL``).
An operator's oracle selects from its fragment, and a flow's oracle
(curation_pipeline, curate_web, curate_full) chains the fragments the
way operators/curation.py chains the operators, so a rule change is
one SQL edit.

The parser operators are oracle-checkable because the documents table
is rendered into HTML with a fixed template (sources/documents.py):
extracted text, node counts, link/comment/CSS contents are closed-form
functions of the input row, so DuckDB can verify the whole
parse→extract pipeline byte-for-byte without parsing any HTML itself.
"""


from __future__ import annotations

import os
import sys
from collections.abc import Callable
from pathlib import Path

# Executor Python workers resolve imports via the PYTHONPATH they
# inherit from the driver process — make the package importable even
# when the driver runs from another cwd (workers don't share the
# driver's sys.path mutations).
_ROOT = str(Path(__file__).resolve().parent)
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)
if _ROOT not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        _ROOT + os.pathsep + os.environ["PYTHONPATH"]
        if os.environ.get("PYTHONPATH") else _ROOT)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_html_parser_spark.kernel.extract import MAIN_CONTENT
from simple_html_parser_spark.operators import curation as CU
from simple_html_parser_spark.runtime import streaming as ST
from simple_html_parser_spark.operators import charset as CS
from simple_html_parser_spark.operators import dedup as D
from simple_html_parser_spark.operators import editing as ED
from simple_html_parser_spark.operators import queryapi as QA
from simple_html_parser_spark.operators import domsql as DS
from simple_html_parser_spark.operators import dsir as DI
from simple_html_parser_spark.operators import fluency as FL
from simple_html_parser_spark.operators import gopher as GO
from simple_html_parser_spark.operators import linkgraph as LG
from simple_html_parser_spark.operators import mixing as MX
from simple_html_parser_spark.operators import multimodal as MM
from simple_html_parser_spark.operators import pdftext as PDF
from simple_html_parser_spark.operators import relational as R
from simple_html_parser_spark.operators import similarity as S
from simple_html_parser_spark.operators import textstats as T
from simple_html_parser_spark.operators import pii as PII
from simple_html_parser_spark.operators import warc as WA
from simple_html_parser_spark.operators import weburl as WU
from simple_html_parser_spark.operators.extraction import (
    extract_documents, parse_nodes, roundtrip_html,
)
from simple_html_parser_spark.sources.documents import (
    HTML_TEMPLATE, TPL_CSSY_SERIALIZED, TPL_MAIN_EDITED,
    TPL_MAIN_SERIALIZED,
    TPL_MAIN_VISUALIZE, TPL_MALFORMED,
    TPL_SPECIAL_SERIALIZED, TPL_VOIDS,
    CONTACT_MOD, CRAWL_REFETCH_MOD, WARC_DOC_BLOCK, load_crawl,
    load_warc, with_contacts,
    load_documents, load_documents_variant, load_table,
    render_charset, render_pdf, render_png, render_wav,
)

# ---------------------------------------------------------------------------
# oracle-side helpers


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _render_sql(template: str = HTML_TEMPLATE) -> str:
    """A page template as a DuckDB string expression (for byte-level
    oracles over the rendered page)."""
    subs = {
        "%1$s": "CAST(doc_id AS VARCHAR)",
        "%2$s": "text",
        "%3$s": "lang",
        "%4$s": "source",
        # visualize text preview: first 17 chars + '...' (corpus texts
        # are always >20 chars and pre-trimmed)
        "%5$s": "(substring(text, 1, 17) || '...')",
    }
    out: list[str] = []
    rest = template
    while rest:
        positions = [
            (rest.index(k), k) for k in subs if k in rest
        ]
        if not positions:
            out.append(_sql_quote(rest))
            break
        pos, key = min(positions)
        if pos:
            out.append(_sql_quote(rest[:pos]))
        out.append(subs[key])
        rest = rest[pos + len(key):]
    return "(" + " || ".join(out) + ")"


_URL_SQL = "('doc://' || source || '/' || CAST(doc_id AS VARCHAR))"

# tokens / n-grams / shingles as DuckDB expressions (mirror of
# dedup.tokens_col / ngrams_col / shingles_col — split on single space,
# drop empties; 3-gram shingles with a whole-text fallback for short docs)
_TOKS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


def _ngrams_sql(t: str, n: int) -> str:
    """dedup.ngrams_col of the list column ``t``: stride-1 n-grams,
    space-joined; [] when there are fewer than n tokens."""
    gram = " || ' ' || ".join(f"{t}[i + {k}]" for k in range(1, n + 1))
    return (f"CASE WHEN len({t}) >= {n} THEN list_transform("
            f"range(len({t}) - {n - 1}), i -> {gram}) ELSE [] END")


def _fingerprint_sql(s: str) -> str:
    """textstats.fingerprint_col of the string column ``s``: the
    polynomial char-code fold mod 2^31-1."""
    return ("list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(range(1, length({s}) + 1), "
            f"i -> CAST(ascii({s}[i]) AS BIGINT))), "
            "(acc, c) -> (acc * 31 + c) % 2147483647)")


_SHINGLES_SQL = (f"list_distinct(CASE WHEN len(t) >= 3 THEN "
                 f"{_ngrams_sql('t', 3)} "
                 f"ELSE [array_to_string(t, ' ')] END)")

# crawl fetch log rebuilt closed-form (mirror of
# sources/documents.py::render_crawl — web-shaped url from
# (source, lang, doc_id), refetch of every CRAWL_REFETCH_MOD-th page
# one day later with +17 bytes)
_CRAWL_CTE = f"""
        crawl AS (
            SELECT doc_id, source, lang,
                   ('https://' || source || '.example.com/' || lang ||
                    '/sec' || CAST(doc_id % 50 AS VARCHAR) ||
                    '/doc-' || CAST(doc_id AS VARCHAR) ||
                    '.html?ref=r' || CAST(doc_id % 7 AS VARCHAR))
                       AS url,
                   TIMESTAMP '2025-01-01 00:00:00'
                       + doc_id * INTERVAL 1 SECOND
                       + fetch_seq * INTERVAL 1 DAY AS warc_ts,
                   CAST(n_chars + 17 * fetch_seq AS BIGINT) AS n_bytes,
                   CAST(fetch_seq AS BIGINT) AS fetch_seq
            FROM documents, (SELECT unnest([0, 1]) AS fetch_seq) f
            WHERE fetch_seq = 0 OR doc_id % {CRAWL_REFETCH_MOD} = 0)"""


# contact-augmented text (mirror of sources/documents.py::with_contacts
# — deterministic PII suffix on every CONTACT_MOD-th doc)
_AUG_CTE = f"""
        aug AS (
            SELECT doc_id, lang,
                   CASE WHEN doc_id % {CONTACT_MOD} = 0 THEN
                       text || ' contact user'
                       || CAST(doc_id AS VARCHAR)
                       || '@mail' || CAST(doc_id % 10 AS VARCHAR)
                       || '.example.com from 10.'
                       || CAST(doc_id % 200 AS VARCHAR) || '.0.'
                       || CAST(doc_id % 250 AS VARCHAR)
                       || ' or call 555-'
                       || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                       || '-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE text END AS text
            FROM documents)"""


def _hex6_mod_sql(expr: str, buckets: int = 10000) -> str:
    """DuckDB replay of weburl.url_hash_bucket: first 6 hex chars of
    md5(expr) as an integer (digit-by-digit polynomial — DuckDB has no
    base-16 conv), mod buckets."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {i + 1}, 1))"
        f" - 1) * {16 ** (5 - i)}"
        for i in range(6))
    return f"(({terms}) % {buckets})"


# the fixed-template page (HTML_TEMPLATE) as a DuckDB string expression
_PAGE_SQL = _render_sql()

# url of a variant-template page (sources/documents.render_variant)
_V_URL = {
    v: f"('doc://' || source || '/' || CAST(doc_id AS VARCHAR) "
       f"|| '#{v}')"
    for v in ("main", "voids", "special", "malformed", "cssy")
}

# textstats.STOPWORDS as a VALUES list of (lang, words) rows — the
# lang_id scorer, replayed by every oracle that predicts a language
_STOP_SQL = ", ".join(
    f"({_sql_quote(lang)}, {('[' + ', '.join(_sql_quote(w) for w in words) + ']')})"
    for lang, words in sorted(T.STOPWORDS.items()))


# ---- operator replays: each operator's DuckDB replay is declared ONCE,
# as CTEs over a source relation.  Single-operator oracles select from
# their fragment; the flow oracles chain the fragments the way
# operators/curation.py chains the operators.


def _exf_ctes(src: str) -> str:
    """``toks(doc_id, t)`` over ``src`` and its exploded shingles WITH
    the auto df-cut, ``exf(doc_id, sh)`` (mirror of
    dedup.shingle_frame(max_shingle_df="auto"): drop shingles
    present in more than max(AUTO_DF_FLOOR, AUTO_DF_FRACTION·N) docs of
    ``src`` — boilerplate cut, required for bounded join fan-out at
    scale)."""
    return f"""
        toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM {src}),
        shl AS (SELECT doc_id, {_SHINGLES_SQL} AS s FROM toks),
        ex AS (SELECT doc_id, unnest(s) AS sh FROM shl),
        hot AS (SELECT sh FROM ex GROUP BY sh
                HAVING count(*) > greatest(
                    CAST({D.AUTO_DF_FLOOR} AS BIGINT),
                    CAST(floor({D.AUTO_DF_FRACTION}
                         * (SELECT count(*) FROM {src})) AS BIGINT))),
        exf AS (SELECT e.doc_id, e.sh FROM ex e
                ANTI JOIN hot h USING (sh))"""


# the exact-Jaccard pair graph over exf: pairs(doc_a < doc_b, jaccard)
# at the 0.30 threshold of every near-dup query
_PAIRS_CTES = """
        sizes AS (SELECT doc_id, count(*) AS n FROM exf GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM exf a JOIN exf b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
        pairs AS (
            SELECT * FROM (
                SELECT doc_a, doc_b, i * 1.0 / (sa.n + sb.n - i) AS jaccard
                FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b)
            WHERE jaccard >= 0.30)"""

# connected components of the pair graph (needs WITH RECURSIVE):
# clusters(doc_id, cluster_id) labels every paired doc with the least
# doc_id it reaches
_CLUSTER_CTES = """
        edges AS (SELECT doc_a, doc_b FROM pairs
                  UNION SELECT doc_b, doc_a FROM pairs),
        reach(doc_id, other) AS (
            SELECT doc_a, doc_b FROM edges
            UNION
            SELECT r.doc_id, e.doc_b FROM reach r
            JOIN edges e ON e.doc_a = r.other),
        clusters AS (
            SELECT doc_id, least(doc_id, min(other)) AS cluster_id
            FROM reach GROUP BY doc_id)"""


def _dedup_ctes(src: str) -> str:
    """Exact + near-dup dedup of ``src`` (mirror of
    curation._curate_filtered): ``keepers`` holds each text's min
    doc_id and ``clusters`` the near-dup components.  The Spark side
    finds pairs by LSH; its recall is 1.0 on this corpus, so the exact
    pair graph is the oracle.  ``_KEPT`` is the predicate on a row
    ``d``."""
    return f"""{_exf_ctes(src)},{_PAIRS_CTES},{_CLUSTER_CTES},
        keepers AS (SELECT min(doc_id) AS doc_id FROM {src}
                    GROUP BY text)"""


_KEPT = """d.doc_id IN (SELECT doc_id FROM keepers)
          AND d.doc_id NOT IN (SELECT doc_id FROM clusters
                               WHERE doc_id <> cluster_id)"""


def _quality_cte(src: str) -> str:
    """``qb``: textstats.quality_score of ``src``, all integer basis
    points (no float round ties between engines)."""
    return f"""
        qb AS (
            SELECT doc_id, q_len_bp, q_alpha_bp, punct_bp,
                   (q_len_bp + q_alpha_bp) // 2 - punct_bp AS quality_bp
            FROM (SELECT doc_id,
                         least(n * 20, 10000) AS q_len_bp,
                         na * 10000 // greatest(n, 1) AS q_alpha_bp,
                         np * 10000 // greatest(n, 1) AS punct_bp
                  FROM (SELECT doc_id,
                               CAST(length(text) AS BIGINT) AS n,
                               CAST(length(regexp_replace(
                                   text, '[^a-zA-Z]', '', 'g'))
                                   AS BIGINT) AS na,
                               CAST(length(regexp_replace(
                                   text, '[^.,;:!?]', '', 'g'))
                                   AS BIGINT) AS np
                        FROM {src})))"""


# lp(doc_id, pred_lang, hits): textstats.lang_id over toks(doc_id, t) —
# the language whose stopword list the tokens hit most, ties to the
# greater name
_LANG_CTES = f"""
        lhits AS (
            SELECT doc_id, st.lang AS pred_lang,
                   CAST(len(list_intersect(t, st.words)) AS BIGINT)
                       AS hits
            FROM toks, (VALUES {_STOP_SQL}) AS st(lang, words)),
        lp AS (
            SELECT doc_id, pred_lang, hits FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY doc_id
                           ORDER BY hits DESC, pred_lang DESC) AS rk
                FROM lhits)
            WHERE rk = 1)"""


def _oov_ctes(src: str) -> str:
    """``ost(doc_id, n_tokens, n_oov, oov_bp)``: textstats.oov_stats of
    ``src`` against its common-vocabulary head (df-cut mirrored from
    textstats.common_vocab: df > max(50, 1%·N) over distinct (doc,
    token) pairs)."""
    return f"""
        exall AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM {src}),
        head AS (SELECT tok
                 FROM (SELECT DISTINCT doc_id, tok FROM exall)
                 GROUP BY tok
                 HAVING count(*) > greatest(CAST(50 AS BIGINT),
                     CAST(floor(0.01 * (SELECT count(*)
                                        FROM {src})) AS BIGINT))),
        ost AS (
            SELECT doc_id, n_tokens, n_oov,
                   n_oov * 10000 // n_tokens AS oov_bp
            FROM (SELECT doc_id, count(*) AS n_tokens,
                         count(*) FILTER
                             (WHERE tok NOT IN (SELECT tok FROM head))
                             AS n_oov
                  FROM exall GROUP BY doc_id))"""


def _fluency_ctes(src: str) -> str:
    """``flu(doc_id, lang, n_bigrams, fluency_bp, bucket)``:
    fluency.lm_fluency of ``src`` (doc_id, lang, text).  Bigram LM
    self-trained per lang (count >= 2), weight = floor(log2(min(count,
    65535))) = length(bin(x)) - 1 (identical integer form in Spark),
    fluency_bp = (10000*sum_w) // (15*n_bg); head/middle/tail tertiles
    from the per-lang score HISTOGRAM: c = docs scoring >= bp, head iff
    3c <= n+2, middle iff 3c <= 2n+2 (ties share a bucket)."""
    return f"""
        fbg AS (
            SELECT doc_id, lang, unnest({_ngrams_sql('t', 2)}) AS b
            FROM (SELECT doc_id, lang, {_TOKS_SQL} AS t FROM {src})),
        flm AS (
            SELECT lang, b, count(*) AS c FROM fbg
            GROUP BY lang, b HAVING count(*) >= 2),
        fsc AS (
            SELECT fbg.doc_id,
                   CAST(count(*) AS BIGINT) AS nb,
                   CAST(sum(CASE WHEN flm.c IS NULL THEN 0
                            ELSE length(bin(least(flm.c, 65535))) - 1
                            END) AS BIGINT) AS sw
            FROM fbg LEFT JOIN flm USING (lang, b)
            GROUP BY fbg.doc_id),
        fds AS (
            SELECT d.doc_id, d.lang,
                   coalesce(f.nb, 0) AS n_bigrams,
                   CAST(CASE WHEN coalesce(f.nb, 0) = 0 THEN 0
                        ELSE (10000 * f.sw) // (15 * f.nb)
                        END AS BIGINT) AS fluency_bp
            FROM {src} d LEFT JOIN fsc f USING (doc_id)),
        fhist AS (
            SELECT lang, fluency_bp, count(*) AS hc
            FROM fds GROUP BY lang, fluency_bp),
        flab AS (
            SELECT lang, fluency_bp,
                   CASE WHEN 3 * c_ge <= n + 2 THEN 'head'
                        WHEN 3 * c_ge <= 2 * n + 2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM (SELECT lang, fluency_bp,
                         sum(hc) OVER (PARTITION BY lang
                                       ORDER BY fluency_bp DESC) AS c_ge,
                         sum(hc) OVER (PARTITION BY lang) AS n
                  FROM fhist)),
        flu AS (
            SELECT d.doc_id, d.lang, d.n_bigrams, d.fluency_bp, l.bucket
            FROM fds d JOIN flab l USING (lang, fluency_bp))"""


def _gopher_cte(src: str) -> str:
    """``gm``: the Gopher §A1.1 signals of ``src`` (doc_id, text) and
    ``passes``, the rule conjunction at min_words=20 and stops=('the',
    'a').  Every ratio is an integer div and every threshold a
    cross-multiplied integer comparison, exactly as in
    operators/gopher.py."""
    return f"""
        gm AS (
            SELECT *, (nw >= 20 AND nw <= 100000
                       AND twc >= 3 * nw AND twc <= 10 * nw
                       AND 10 * nh <= nw AND 10 * ne <= nw
                       AND 10 * nbl <= 9 * nl AND 10 * nel <= 3 * nl
                       AND 5 * naw >= 4 * nw AND nsh >= 2) AS passes
            FROM (
                SELECT doc_id,
                       CAST(len(w) AS BIGINT) AS nw,
                       CAST(len(l) AS BIGINT) AS nl,
                       CAST(coalesce(list_sum(
                           list_transform(w, x -> length(x))), 0)
                           AS BIGINT) AS twc,
                       CAST(length(text) -
                            length(replace(text, '#', '')) AS BIGINT)
                            AS nh,
                       CAST((length(text) -
                             length(replace(text, '...', ''))) // 3
                            AS BIGINT) AS ne,
                       CAST(len(list_filter(l,
                            x -> substring(x, 1, 1) IN ('-', '*', '•')))
                            AS BIGINT) AS nbl,
                       CAST(len(list_filter(l,
                            x -> ends_with(x, '...') OR ends_with(x, '…')))
                            AS BIGINT) AS nel,
                       CAST(len(list_filter(w,
                            x -> regexp_matches(x, '[a-zA-Z]')))
                            AS BIGINT) AS naw,
                       CAST(len(list_intersect(w,
                            ['the', 'a'])) AS BIGINT) AS nsh
                FROM (SELECT doc_id, text,
                             list_filter(string_split_regex(text, '[ \n]'),
                                         x -> x <> '') AS w,
                             string_split(text, chr(10)) AS l
                      FROM {src})))"""


# pii.scrub_col: emails, then IPv4s, then phones → placeholders (DuckDB
# replaces only the first match unless given 'g'; Spark replaces all)
_SCRUB_SQL = f"""regexp_replace(regexp_replace(regexp_replace(text,
                         '{PII.PII_EMAIL}', '<EMAIL>', 'g'),
                         '{PII.PII_IPV4}', '<IP>', 'g'),
                         '{PII.PII_PHONE}', '<PHONE>', 'g')"""


# k-means IVF: the oracles REPLAY the identical Lloyd sweeps —
# integer-exact arithmetic (1e-6-grid bigint quantization, bigint
# squared-L2, floor(sum/count) centroid updates) makes the
# iteration bit-reproducible across engines regardless of
# summation order.  Seeds = vec_id < 8, 2 sweeps (mirrors
# operators/similarity.kmeans_centroids defaults).
def _kdist(a: str, b: str) -> str:
    return (f"list_sum(list_transform(range(1, 65), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))")


def _kmeans_ctes() -> tuple[str, str]:
    """The ``WITH`` prefix shared by the k-means oracles (query vector
    qv, quantized vectors v, seed centroids c0, then assignment a{k}
    and centroid c{k} per sweep) and the name of the final centroid
    CTE."""
    kq = ("list_transform(embedding, x -> CAST(floor("
          "CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))")
    parts = [f"""
        qv AS (SELECT {kq} AS qe, CAST(embedding AS DOUBLE[]) AS qf
               FROM embeddings WHERE vec_id = 0),
        v AS (SELECT vec_id, {kq} AS qe FROM embeddings),
        pos AS (SELECT unnest(range(1, 65)) AS i),
        c0 AS (SELECT vec_id AS cid, qe AS c FROM v WHERE vec_id < 8)"""]
    cur = "c0"
    for it in (1, 2):
        parts.append(f"""
        a{it} AS (SELECT vec_id, cid FROM (
            SELECT v.vec_id, {cur}.cid,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {_kdist("v.qe", f"{cur}.c")},
                                {cur}.cid) AS rn
            FROM v CROSS JOIN {cur}) WHERE rn = 1),
        c{it} AS (SELECT cid, list(m ORDER BY i) AS c FROM (
            SELECT a{it}.cid, pos.i,
                   CAST(floor(CAST(sum(v.qe[pos.i]) AS DOUBLE)
                        / count(*)) AS BIGINT) AS m
            FROM a{it} JOIN v USING (vec_id) CROSS JOIN pos
            GROUP BY a{it}.cid, pos.i) GROUP BY cid)""")
        cur = f"c{it}"
    return "WITH " + ",".join(parts), cur


_KM_WITH, _KM_C = _kmeans_ctes()


# ---------------------------------------------------------------------------
# spark-side helpers


def _par(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Repartition immediately after the read (guide §2.5 input-skew
    remedy): the sf testdata tables are SINGLE-row-group parquet
    files — an unsplittable one-task scan — so without this every
    map-side stage before the first exchange ran on one core of the
    32; for the Python-kernel mapInArrow stages that single task IS
    the query (r6 measured: css_serialize_api 2.5s -> 1.0s,
    iterator_api 1.2 -> 0.87s, pdf_text_extract 1.40 -> 0.84s at
    sf0.1).  The partition count scales with the
    session's core budget — never a constant — and the exchange moves
    under ~15 MB at test SFs; the explicit numPartitions keeps AQE
    from re-coalescing it away.  Production inputs arrive in many
    splits (and Iceberg tables expose real partitioning), so this is
    the small-file floor, not a cluster setting; the deterministic
    xxhash64 key follows the salt convention (never rand(), guide
    §2.5/SPARK-38388)."""
    n = 2 * df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, F.xxhash64(key))


# _par policy, decided query-by-query with 4-trial A/Bs (r6,
# OPTIMIZATION_r06.md): it PAYS where the map side before the first
# exchange is Python-kernel work (parse/serialize/iterate/PDF — the
# mapInArrow stages) and LOSES where the map side is a cheap JVM
# projection feeding an aggregation (the exchange just adds a stage:
# dedup_exact x2.0, ngram x1.4, curate_full x1.6, warc_extract
# x1.4 measured WITH a blanket repartition).  Hence: _docs/_vdocs
# (kernel-stage corpora) and the pdf/charset byte paths repartition;
# _raw_docs (JVM tokenize/aggregate consumers) and the warc files
# frame stay on the native scan partitioning.


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simple_html_parser_spark.sources.documents import render_html
    return render_html(_par(load_table(spark, sf_dir, "documents")))


def _raw_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _vdocs(spark: SparkSession, sf_dir: str, variant: str) -> DataFrame:
    from simple_html_parser_spark.sources.documents import render_variant
    return render_variant(
        _par(load_table(spark, sf_dir, "documents")), variant)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _synthetic_host_edges(docs: DataFrame) -> DataFrame:
    """Deterministic 20-host edge list for link_pagerank: universe =
    the corpus' distinct url hosts (driver-scale: one row per source),
    edges i -> (i + j*j) mod n for j in 1..3 with weight 1+(i*j)%5.
    The global row_number window runs on the host-count-sized frame
    only — never the corpus."""
    from pyspark.sql import Window

    hosts = (docs.select(
        F.regexp_extract("url", r"^[a-z][a-z0-9+.\-]*://([^/]+)", 1)
        .alias("host")).distinct())
    n1 = hosts.agg(F.count("*").alias("n"))
    idx = (hosts
           .withColumn("i", F.row_number().over(Window.orderBy("host")) - 1)
           .crossJoin(F.broadcast(n1)))
    e = (idx.select(
        F.col("host").alias("src_host"), "i", "n",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"))
        .select("src_host",
                ((F.col("i") + F.col("j") * F.col("j")) % F.col("n"))
                .alias("di"),
                (1 + (F.col("i") * F.col("j")) % 5)
                .cast("bigint").alias("n_links")))
    dst = idx.select(F.col("host").alias("dst_host"),
                     F.col("i").alias("di"))
    return e.join(dst, "di").select("src_host", "dst_host", "n_links")


def _gopher_text():
    """Deterministic doc_id-keyed multi-line rendering for the Gopher
    line rules (the corpus text is single-line): doc_id%3==0 appends
    two bullet lines + a plain line, %3==1 appends a '###' symbol run
    + two ellipsis-terminated lines, %3==2 is unchanged.  Mirrored
    character-for-character in the gopher_rules oracle CTE."""
    return (
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.col("text"),
                        F.lit("\n- alpha bullet\n- beta bullet"
                              "\nplain closing line")))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.col("text"),
                       F.lit(" ###\ntrailing thought...\nanother one…")))
        .otherwise(F.col("text"))
    ).alias("text")


def _rep_text():
    """doc_id-keyed rendering for the repetition filters: %4 docs get
    a duplicated line pair, %5 (not %4) docs a duplicated 5-gram.
    Mirrored character-for-character in the repetition_filters
    oracle."""
    return (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.col("text"),
                        F.lit("\necho line one\necho line one"
                              "\n\npara dup\n\npara dup")))
        .when(F.col("doc_id") % 5 == 0,
              F.concat(F.col("text"),
                       F.lit(" r1 r2 r3 r4 r5 r1 r2 r3 r4 r5")))
        .otherwise(F.col("text"))
    ).alias("text")


_GOPHER_TEXT_CTE = """
        g AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN text || chr(10) ||
                            '- alpha bullet' || chr(10) ||
                            '- beta bullet' || chr(10) ||
                            'plain closing line'
                        WHEN doc_id % 3 = 1 THEN text || ' ###' ||
                            chr(10) || 'trailing thought...' ||
                            chr(10) || 'another one…'
                        ELSE text END AS text
            FROM documents)"""


def _session_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl frame re-timestamped for session analysis: host h's
    k-th fetch (doc_id = 20k + h) lands at 60k + 600*(doc_id div 100)
    seconds past the epoch — bursts of 5 events 60s apart separated
    by 660s silences, so gap=5min sessionization is non-vacuous.
    Mirrored in the stream_sessionize oracle."""
    shaped = load_documents(spark, sf_dir)
    did = "cast(regexp_extract(url, '([0-9]+)$', 1) as bigint)"
    return shaped.withColumn(
        "warc_ts",
        F.expr(f"timestamp '2025-01-01 00:00:00' + make_interval("
               f"0, 0, 0, 0, 0, 0, "
               f"60 * ({did} div 20) + 600 * ({did} div 100))"))


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (load_table(spark, sf_dir, "embeddings")
           .where(F.col("vec_id") == 0).select("embedding").first())
    return list(row.embedding)


# ---------------------------------------------------------------------------
# contract

_Build = Callable[[SparkSession, str], DataFrame]
_QUERIES: dict[str, tuple[str, _Build]] = {}


def _q(name: str, sql: str, build: _Build) -> None:
    """Declare one query: its DuckDB oracle SQL and its Spark builder."""
    if name in _QUERIES:
        raise ValueError(f"query {name!r} is declared twice")
    _QUERIES[name] = (sql, build)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: parity extraction over sf0.001 (driver smoke)."""
    docs = _docs(spark, "/root/testdata/sf0.001")
    return extract_documents(docs)


def queries() -> dict[str, _Build]:
    return {name: build for name, (_, build) in _QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (sql, _) in _QUERIES.items()}


# ---------------------------------------------------------------------------
# declarations
# Declaration order is registration order: the driver's CORRECTNESS
# file covers only the first 50, so keep parser-core queries first.

# ---- extraction pipeline (parser hot path) ----
_EXTRACT_PARITY_SQL = f"""
        SELECT {_URL_SQL} AS url,
               'Doc ' || CAST(doc_id AS VARCHAR) || text AS extracted_text
        FROM documents"""
_q("extract_parity", _EXTRACT_PARITY_SQL,
   lambda spark, sf: (
       extract_documents(_docs(spark, sf))
       .select("url", "extracted_text")))

_q("extract_main_content", f"""
        SELECT {_URL_SQL} AS url,
               CASE WHEN length(trim(text)) >= 20 THEN text
                    ELSE '' END AS extracted_text
        FROM documents""",
   lambda spark, sf: (
       extract_documents(_docs(spark, sf), profile=MAIN_CONTENT)
       .select("url", "extracted_text")))

_q("extract_stats", f"""
        SELECT {_URL_SQL} AS url,
               40 AS n_nodes, 2 AS n_text_nodes,
               octet_length(encode({_PAGE_SQL})) AS n_bytes
        FROM documents""",
   lambda spark, sf: (
       extract_documents(_docs(spark, sf))
       .select("url", "n_nodes", "n_text_nodes", "n_bytes")))

# ---- exploded nodes view (tree semantics, SQL-checkable) ----
# every parse_nodes query passes ``columns=``: Catalyst cannot
# prune into the Python stage, so the emission itself is pruned
# to exactly what the query reads (identical values, guide §4)
_q("nodes_type_counts", """
        SELECT t.type, t.per_doc * (SELECT count(*) FROM documents) AS n
        FROM (VALUES ('root', 1), ('tag-open', 14), ('tag-close', 14),
                     ('text', 7), ('comment', 1), ('css-rule', 2),
                     ('css-at-rule', 1)) AS t(type, per_doc)""",
   lambda spark, sf: (
       parse_nodes(_docs(spark, sf), columns=["type"])
       .groupBy("type").agg(F.count("*").alias("n"))))

_q("nodes_tag_counts", """
        SELECT t.name, t.per_doc * (SELECT count(*) FROM documents) AS n
        FROM (VALUES ('html', 1), ('head', 1), ('title', 1), ('style', 1),
                     ('body', 1), ('nav', 1), ('a', 3), ('main', 1),
                     ('h1', 1), ('p', 1), ('aside', 1), ('footer', 1)
             ) AS t(name, per_doc)""",
   lambda spark, sf: (
       parse_nodes(_docs(spark, sf), columns=["type", "name"])
       .where(F.col("type") == "tag-open")
       .groupBy("name").agg(F.count("*").alias("n"))))

_q("doc_links", f"""
        SELECT {_URL_SQL} AS url, href
        FROM documents, (VALUES (1), (2), (3)) AS v(i),
        LATERAL (SELECT CASE v.i WHEN 1 THEN '/src/' || source
                                 WHEN 2 THEN '/lang/' || lang
                                 ELSE '/r' END AS href) l""",
   lambda spark, sf: (
       parse_nodes(_docs(spark, sf), columns=["url", "attrs"])
       .where(F.col("attrs")["href"].isNotNull())
       .select("url", F.col("attrs")["href"].alias("href"))))

_q("doc_comments", f"""
        SELECT {_URL_SQL} AS url,
               ' id:' || CAST(doc_id AS VARCHAR) || ' ' AS content,
               'html-comment' AS comment_type
        FROM documents""",
   lambda spark, sf: (
       parse_nodes(_docs(spark, sf),
                   columns=["url", "type", "content", "comment_type"])
       .where(F.col("type") == "comment")
       .select("url", "content", "comment_type")))

_q("css_rule_selectors", f"""
        SELECT {_URL_SQL} AS url, '.main' AS css_selector,
               CASE v.i WHEN 1 THEN '#222' ELSE 'black' END AS color
        FROM documents, (VALUES (1), (2)) AS v(i)""",
   lambda spark, sf: (
       parse_nodes(_docs(spark, sf),
                   columns=["url", "type", "css_selector",
                            "css_declarations"])
       .where(F.col("type") == "css-rule")
       .select("url", "css_selector",
               F.col("css_declarations")["color"].alias("color"))))

# the fixed template yields one constant structure for every doc;
# distinct() over all docs must collapse to exactly this 40-row map
# (pins pre-order ids, BFS ranks, depths, and subtree extents in a
# SQL-checkable form; derived once from the kernel and verified
# against the reference via goldens)
_q("nodes_structure_map", """
        SELECT * FROM (VALUES
        (0,0,0,39),(1,1,1,38),(2,3,2,10),(3,7,3,4),(4,20,4,4),
        (5,8,3,5),(6,9,3,9),(7,21,4,7),(8,22,4,9),(9,34,5,9),
        (10,10,3,10),(11,4,2,11),(12,5,2,37),(13,11,3,19),
        (14,23,4,15),(15,35,5,15),(16,24,4,16),(17,25,4,18),
        (18,36,5,18),(19,26,4,19),(20,12,3,20),(21,13,3,27),
        (22,27,4,23),(23,37,5,23),(24,28,4,24),(25,29,4,26),
        (26,38,5,26),(27,30,4,27),(28,14,3,28),(29,15,3,32),
        (30,31,4,31),(31,39,5,31),(32,32,4,32),(33,16,3,33),
        (34,17,3,34),(35,18,3,36),(36,33,4,36),(37,19,3,37),
        (38,6,2,38),(39,2,1,39)
        ) AS t(node_id, bfs_rank, depth, subtree_end)""",
   lambda spark, sf: (
       parse_nodes(_docs(spark, sf),
                   columns=["node_id", "subtree_end", "bfs_rank",
                            "depth"])
       .select("node_id", "bfs_rank", "depth", "subtree_end")
       .distinct()))

# DataFrame-level selector ops over the nodes view (SURVEY §2.3):
# 'nav a' matches node ids 14,17 in the fixed template; '.main'
# matches 21 (kernel-derived constants, golden-verified)
_q("sql_qsa_descendant", f"""
        SELECT {_URL_SQL} AS url, v.node_id, v.bfs_rank
        FROM documents, (VALUES (14, 23), (17, 25)) AS v(node_id,
                                                         bfs_rank)""",
   lambda spark, sf: (
       DS.descendant_select(
           parse_nodes(_docs(spark, sf),
                       columns=["url", "node_id", "subtree_end",
                                "bfs_rank", "type", "name"]),
           DS.is_tag("nav"), DS.is_tag("a"))))

_q("sql_qsa_class", f"""
        SELECT {_URL_SQL} AS url, 21 AS node_id, 13 AS bfs_rank,
               'main' AS name
        FROM documents""",
   lambda spark, sf: (
       DS.select_nodes(
           parse_nodes(_docs(spark, sf),
                       columns=["url", "node_id", "bfs_rank", "type",
                                "name", "attrs"]),
           DS.has_class("main"))
       .select("url", "node_id", "bfs_rank", "name")))

_q("sql_attr_count", f"""
        SELECT {_URL_SQL} AS url, CAST(3 AS BIGINT) AS n_links
        FROM documents""",
   lambda spark, sf: (
       DS.count_matches_per_doc(
           parse_nodes(_docs(spark, sf),
                       columns=["url", "type", "attrs"]),
           DS.has_attr("href"),
           "n_links")))

# All 7 text nodes sit at depth >= 4 in the fixed template
# (root0 > html1 > head/body2 > title/nav/main/aside/footer3 >
# text or a4 > text5); deep_chars is the exact character sum.
_q("deep_text_nodes", f"""
        SELECT {_URL_SQL} AS url,
               7 AS n_deep_text,
               2 * length('Doc ' || CAST(doc_id AS VARCHAR))
                 + length(source) + length(lang) + length(text)
                 + length('related') + length('corpus footer')
                 AS deep_chars
        FROM documents""",
   lambda spark, sf: (
       parse_nodes(_docs(spark, sf),
                   columns=["url", "depth", "type", "content"])
       .where((F.col("type") == "text") & (F.col("depth") >= 3))
       .groupBy("url").agg(
           F.count("*").alias("n_deep_text"),
           F.sum(F.length("content")).alias("deep_chars"))))

# ---- variant-template parser coverage (VERDICT r01 item 4):
# voids/special/malformed pages put T3/T6/T7/T8 recovery, the JS
# comment submachine, and serialization under the driver oracle ----
# The structure maps are constant per template (verified against the
# reference via tools/ref_dump.mjs across diverse substitutions;
# derived from the kernel by a scripted dump and pinned here): the
# driver's distinct() must collapse to exactly these rows.
_STRUCT_COLS = ["node_id", "bfs_rank", "depth", "subtree_end", "type",
                "name"]
_q("voids_structure_map", """
        SELECT * FROM (VALUES
        (0,0,0,13,'root',''),(1,1,1,12,'tag-open','html'),
        (2,3,2,11,'tag-open','body'),(3,5,3,5,'tag-open','p'),
        (4,8,4,4,'text',''),(5,9,4,5,'text',''),
        (6,6,3,6,'tag-close','p'),(7,7,3,11,'tag-open','br/'),
        (8,10,4,8,'tag-open','img'),(9,11,4,9,'tag-open','hr'),
        (10,12,4,10,'tag-close','section'),(11,13,4,11,'tag-open','input'),
        (12,4,2,12,'tag-close','body'),(13,2,1,13,'tag-close','html')
        ) AS t(node_id, bfs_rank, depth, subtree_end, type, name)""",
   lambda spark, sf: (
       parse_nodes(_vdocs(spark, sf, "voids"), columns=_STRUCT_COLS)
       .distinct()))

_q("special_structure_map", """
        SELECT * FROM (VALUES
        (0,0,0,16,'root',''),(1,1,1,15,'tag-open','html'),
        (2,3,2,14,'tag-open','body'),(3,5,3,7,'tag-open','jhp'),
        (4,11,4,4,'text',''),(5,12,4,5,'comment',''),
        (6,13,4,6,'comment',''),(7,14,4,7,'text',''),
        (8,6,3,8,'tag-close','jhp'),(9,7,3,10,'tag-open','script'),
        (10,15,4,10,'text',''),(11,8,3,11,'tag-close','script'),
        (12,9,3,13,'tag-open','p'),(13,16,4,13,'text',''),
        (14,10,3,14,'tag-close','p'),(15,4,2,15,'tag-close','body'),
        (16,2,1,16,'tag-close','html')
        ) AS t(node_id, bfs_rank, depth, subtree_end, type, name)""",
   lambda spark, sf: (
       parse_nodes(_vdocs(spark, sf, "special"), columns=_STRUCT_COLS)
       .distinct()))

_q("malformed_structure_map", """
        SELECT * FROM (VALUES
        (0,0,0,12,'root',''),(1,1,1,5,'tag-open','div'),
        (2,6,2,5,'tag-open','p'),(3,10,3,3,'text',''),
        (4,11,3,5,'tag-open','span'),(5,12,4,5,'text',''),
        (6,2,1,6,'tag-close','div'),(7,3,1,9,'tag-open','b'),
        (8,7,2,8,'text',''),(9,8,2,9,'tag-close','i'),
        (10,4,1,10,'tag-close','b'),(11,5,1,12,'tag-open','p'),
        (12,9,2,12,'text','')
        ) AS t(node_id, bfs_rank, depth, subtree_end, type, name)""",
   lambda spark, sf: (
       parse_nodes(_vdocs(spark, sf, "malformed"), columns=_STRUCT_COLS)
       .distinct()))

# jhp/script token contents are closed-form per row (JS submachine:
# line comment, block comment, code text, script text)
_q("special_js_tokens", f"""
        SELECT {_V_URL['special']} AS url, v.node_id, v.type,
               v.comment_type,
               CASE v.node_id
                 WHEN 4 THEN 'var x = ' || CAST(doc_id AS VARCHAR) || '; '
                 WHEN 5 THEN ' note ' || source
                 WHEN 6 THEN ' c '
                 WHEN 7 THEN ' if (x < 2) {{ x = x + 1; }}'
                 WHEN 10 THEN 'let s = "' || lang || '"; // tail' || chr(10)
                 ELSE text
               END AS content
        FROM documents, (VALUES
            (4, 'text', NULL), (5, 'comment', 'js-single-line'),
            (6, 'comment', 'js-multi-line'), (7, 'text', NULL),
            (10, 'text', NULL), (13, 'text', NULL)
        ) AS v(node_id, type, comment_type)""",
   lambda spark, sf: (
       parse_nodes(_vdocs(spark, sf, "special"),
                   columns=["url", "node_id", "type", "content",
                            "comment_type"])
       .where(F.col("node_id").isin(4, 5, 6, 7, 10, 13))
       .select("url", "node_id", "type", "comment_type", "content")))

# the reference constructor's ONLY parameter
# (src/simple-html-parser.js:37): the SAME special page parsed
# with special_tags=('script',) — jhp becomes a normal tag whose '<'
# (in 'x < 2') splits the content (T3 rescue) while script now runs
# the JS submachine (code text + '// tail' line comment).  Full
# per-node map + contents, kernel-derived and reference-verified
# (ref_dump with special_tags=['script'] matches the kernel dump
# byte-for-byte).
_q("special_tags_config", f"""
        SELECT {_V_URL['special']} AS url, v.node_id, v.bfs_rank,
               v.depth, v.subtree_end, v.type, v.name, v.comment_type,
               CASE v.node_id
                 WHEN 4 THEN 'var x = ' || CAST(doc_id AS VARCHAR)
                     || '; // note ' || source || chr(10)
                     || '/* c */ if (x '
                 WHEN 5 THEN '< 2) {{ x = x + 1; }}'
                 WHEN 8 THEN 'let s = "' || lang || '"; '
                 WHEN 9 THEN ' tail'
                 WHEN 12 THEN text
                 ELSE ''
               END AS content
        FROM documents, (VALUES
            (0,0,0,15,'root','',NULL),(1,1,1,14,'tag-open','html',NULL),
            (2,3,2,13,'tag-open','body',NULL),
            (3,5,3,5,'tag-open','jhp',NULL),
            (4,11,4,4,'text','',NULL),(5,12,4,5,'text','',NULL),
            (6,6,3,6,'tag-close','jhp',NULL),
            (7,7,3,9,'tag-open','script',NULL),
            (8,13,4,8,'text','',NULL),
            (9,14,4,9,'comment','','js-single-line'),
            (10,8,3,10,'tag-close','script',NULL),
            (11,9,3,12,'tag-open','p',NULL),(12,15,4,12,'text','',NULL),
            (13,10,3,13,'tag-close','p',NULL),
            (14,4,2,14,'tag-close','body',NULL),
            (15,2,1,15,'tag-close','html',NULL)
        ) AS v(node_id, bfs_rank, depth, subtree_end, type, name,
               comment_type)""",
   lambda spark, sf: (
       parse_nodes(_vdocs(spark, sf, "special"),
                   special_tags=("script",),
                   columns=["url", "node_id", "subtree_end",
                            "bfs_rank", "depth", "type", "name",
                            "content", "comment_type"])
       .select("url", "node_id", "bfs_rank", "depth", "subtree_end",
               "type", "name", "comment_type", "content")))

_q("voids_attrs", f"""
        SELECT {_V_URL['voids']} AS url, v.name,
               CASE v.name WHEN 'img'
                    THEN '/img/' || CAST(doc_id AS VARCHAR) || '.png'
               END AS src,
               CASE v.name WHEN 'input' THEN lang END AS value
        FROM documents, (VALUES ('img'), ('input')) AS v(name)""",
   lambda spark, sf: (
       parse_nodes(_vdocs(spark, sf, "voids"),
                   columns=["url", "name", "attrs"])
       .where(F.col("name").isin("img", "input"))
       .select("url", "name",
               F.col("attrs")["src"].alias("src"),
               F.col("attrs")["value"].alias("value"))))

# kernel selector engine + find-API over the main template: every
# op's matched-id list is a per-doc constant (pinned from the
# kernel, reference-verified by the query-api golden case)
_q("kernel_query_api", f"""
        SELECT {_V_URL['main']} AS url, v.op, v.arg,
               CASE WHEN v.op = 'comments_no_type'
                    THEN '34: id:' || CAST(doc_id AS VARCHAR) || ' '
                    ELSE v.ids END AS ids
        FROM documents, (VALUES
            ('qsa', 'nav a', '14,17'),
            ('qsa', '.main', '21'),
            ('qsa', 'p.content', '25'),
            ('qsa', 'body :not(a)', '12'),
            ('qsa', 'a[href=''/r'']', '30'),
            ('qs', 'nav', '13'),
            ('by_tag', 'a', '14,17,30'),
            ('by_attr', 'href', '14,17,30'),
            ('by_type', 'comment', '34'),
            ('nodes_by_type', 'text', '4,15,18,23,26,31,36'),
            ('comments', '', '34'),
            ('comments_no_content', '', '34:html-comment'),
            ('comments_no_type', '', ''),
            ('comments_bare', '', '34')
        ) AS v(op, arg, ids)""",
   lambda spark, sf: QA.kernel_query_api(_vdocs(spark, sf, "main")))

# Q1 iterator over the voids template (no style block, so the walk
# covers every node — on style-bearing pages the reference walk
# ENDS inside the css subtree, a quirk pinned by the fuzz iterate
# ops).  Sequences are per-doc constants, live-verified against
# the reference via ref_dump 'iterate' (+ remove / skip_at /
# remove_other specs) for multiple substitutions.
_q("kernel_iterator_api", f"""
        SELECT {_V_URL['voids']} AS url, v.op, v.ids
        FROM documents, (VALUES
            ('walk',           '1,2,3,4,5,6,7,8,9,10,11,12,13'),
            ('skip_noop',      '1,2,3,4,5,6,7,8,9,10,11,12,13'),
            ('rm_current_p',   '1,2,3,4,5'),
            ('rm_current_img', '1,2,3,4,5,6,7,8'),
            ('rm_other',       '1,2,3,4,5,6,7,8,10,11,12,13')
        ) AS v(op, ids)""",
   lambda spark, sf: QA.iterator_api(_vdocs(spark, sf, "voids")))

# cssFind* over the cssy template: at-rule, compound-vs-exact rule
# matches (compound picks up the @media-nested .a), and custom
# properties with scope paths — --pad's value is doc_id-dependent
_q("css_query_api", """
        SELECT ('doc://' || source || '/' || CAST(doc_id AS VARCHAR)
                || '#cssy') AS url,
               v.kind, v.name,
               CASE WHEN v.name = '--pad'
                    THEN CAST(doc_id AS VARCHAR) || 'px'
                    ELSE v.value END AS value
        FROM documents, (VALUES
            ('at_rule', 'media', 'screen'),
            ('rules_compound', '.a', '5,9'),
            ('rules_exact', '.a', '5,9'),
            ('rules_compound', '.d', '11'),
            ('rules_exact', '.d', '11'),
            ('var::root', '--c', '#0a0'),
            ('var::root', '--pad', ''),
            ('var:#hdr', '--local', '7px')
        ) AS v(kind, name, value)""",
   lambda spark, sf: QA.css_query_api(_vdocs(spark, sf, "cssy")))

# cssToString option matrix (C12): each combo's output is a fixed
# template with one doc-id substitution (@D@, the --pad value) —
# kernel-derived, byte-verified against the reference per combo
_q("css_serialize_api", " UNION ALL ".join(f"""
        SELECT {_V_URL['cssy']} AS url, '{combo}' AS combo,
               replace({_sql_quote(tpl)}, '@D@',
                       CAST(doc_id AS VARCHAR)) AS out
        FROM documents""" for combo, tpl in TPL_CSSY_SERIALIZED.items()),
   lambda spark, sf: QA.css_serialize_api(_vdocs(spark, sf, "cssy")))

# serialization API on the fixed main node: getTag / innerHtml /
# outerHtml (reference getTag+innerHtml, no close tag) + toString
# of the whole doc (toHtml WITH comments); all closed-form
_MAIN_INNER_SQL = ("'<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>"
                   "<p class=\"content\">' || text || '</p>'")
_MAIN_TOSTR_SQL = _render_sql(
    TPL_MAIN_SERIALIZED.replace("<footer>", "<!-- id:%1$s --><footer>"))
_q("doc_serialize_api", f"""
        SELECT {_V_URL['main']} AS url, v.kind,
               CASE v.kind
                 WHEN 'get_tag' THEN '<main class="main">'
                 WHEN 'inner_html' THEN {_MAIN_INNER_SQL}
                 WHEN 'outer_html'
                     THEN '<main class="main">' || {_MAIN_INNER_SQL}
                 ELSE {_MAIN_TOSTR_SQL}
               END AS out
        FROM documents, (VALUES ('get_tag'), ('inner_html'),
                                ('outer_html'), ('to_string')
        ) AS v(kind)""",
   lambda spark, sf: QA.serialize_api(_vdocs(spark, sf, "main")))

_q("doc_visualize", f"""
        SELECT {_V_URL['main']} AS url,
               {_render_sql(TPL_MAIN_VISUALIZE)} AS viz
        FROM documents""",
   lambda spark, sf: QA.visualize_api(_vdocs(spark, sf, "main")))

# parse → querySelector → A2-A4 attr writes → M1-M7 rewrites →
# toHtml, per url; expected bytes are the closed-form edited
# template (TPL_MAIN_EDITED, reference-verified via the
# edit-pipeline goldens)
_EDITED_SQL = _render_sql(TPL_MAIN_EDITED)
_q("doc_edit_pipeline", f"""
        SELECT {_V_URL['main']} AS url,
               octet_length(encode({_EDITED_SQL})) AS ed_len,
               sha256({_EDITED_SQL}) AS ed_sha256
        FROM documents""",
   lambda spark, sf: (
       ED.edit_roundtrip(_vdocs(spark, sf, "main"))
       .select("url", "ed_len", "ed_sha256")))

# byte-level serialization oracle: to_html round-trips the voids /
# malformed pages byte-identically (reference round-trip guarantee
# for the quoted-attr subset); main and special serialize to their
# own fixed templates (CSS pretty-print + comment drop are
# reference toHtml semantics, kernel == reference via goldens).
_q("doc_roundtrip", " UNION ALL ".join(f"""
        SELECT {_V_URL[v]} AS url,
               octet_length(encode({r})) AS rt_len,
               sha256({r}) AS rt_sha256
        FROM documents""" for v, r in (
       ("main", _render_sql(TPL_MAIN_SERIALIZED)),
       ("voids", _render_sql(TPL_VOIDS)),
       ("special", _render_sql(TPL_SPECIAL_SERIALIZED)),
       ("malformed", _render_sql(TPL_MALFORMED)))),
   lambda spark, sf: roundtrip_html(
       # ONE repartition after the 4-variant union (A/B'd: four
       # per-variant exchanges cost more than they parallelize)
       _par(load_documents_variant(spark, sf, "main")
            .unionByName(load_documents_variant(spark, sf, "voids"))
            .unionByName(load_documents_variant(spark, sf, "special"))
            .unionByName(
                load_documents_variant(spark, sf, "malformed")),
            "url")
   ).select("url", "rt_len", "rt_sha256"))

# ---- charset sniffing (byte→string tier) ----
# four closed-form byte encodings (BOM'd utf-8/utf-16le,
# meta-labelled iso-8859-1, unlabelled utf-8) plus a cp1252 fallback:
# all closed-form in doc_id % 5 (sources/documents.render_charset);
# n_chars pins the DECODE, not just the label (utf-16 misread as
# utf-8 would roughly double the length).  Decoded length = length
# of the rebuilt page STRING (ascii-sanitized text encodes losslessly
# in every variant; BOMs are stripped before decode; variant 4's
# ' café' suffix survives the cp1252 fallback decode char-for-char
# because 0xE9 = é in cp1252)
_q("charset_sniff", """
        WITH c AS (
            SELECT doc_id, source,
                   regexp_replace(text, '[^ -~]', '', 'g') AS atext,
                   doc_id % 5 AS m
            FROM documents)
        SELECT ('doc://' || source || '/' || CAST(doc_id AS VARCHAR)
                || '#charset') AS url,
               CASE m WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-16le'
                      WHEN 2 THEN 'iso-8859-1'
                      WHEN 4 THEN 'windows-1252' ELSE 'utf-8' END
                   AS encoding,
               CASE m WHEN 0 THEN 'bom' WHEN 1 THEN 'bom'
                      WHEN 2 THEN 'meta'
                      WHEN 4 THEN 'fallback' ELSE 'default' END
                   AS enc_source,
               CAST(length(CASE WHEN m >= 3 THEN
                   '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
                   || '</title></head><body><p>' || atext
                   || (CASE WHEN m = 4 THEN ' café' ELSE '' END)
                   || '</p></body></html>'
               ELSE
                   '<html><head><meta charset="'
                   || (CASE m WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-16le'
                            ELSE 'iso-8859-1' END)
                   || '"><title>Doc ' || CAST(doc_id AS VARCHAR)
                   || '</title></head><body><p>' || atext
                   || '</p></body></html>'
               END) AS BIGINT) AS n_chars
        FROM c""",
   lambda spark, sf: CS.detect_charset(
       render_charset(_par(_raw_docs(spark, sf)))))

# end-to-end: the SAME mapInArrow extraction hot path, decoding via
# the sniffer — all byte encodings of a page must extract the
# identical closed-form text.  The charset template's only
# extractable text is the body <p> (head/title is blacklisted): the
# ASCII-sanitized text column, identical for all 5 byte encodings
# except variant 4's ' café' fallback marker
_q("charset_extract", """
        SELECT ('doc://' || source || '/' || CAST(doc_id AS VARCHAR)
                || '#charset') AS url,
               regexp_replace(text, '[^ -~]', '', 'g')
                   || (CASE WHEN doc_id % 5 = 4 THEN ' café'
                       ELSE '' END) AS extracted_text
        FROM documents""",
   lambda spark, sf: (
       extract_documents(
           render_charset(_par(_raw_docs(spark, sf)))
           .select("url", F.col("payload").alias("html")),
           sniff_charset=True)
       .select("url", "extracted_text")))

# ---- curation, dedup, similarity, text, multimodal, relational and
# crawl queries (the rest of the driver window) ----
# end-to-end curation: lang agreement + quality floor + exact dedup
# + near-dup dedup, composed in one declarative plan.  The oracle
# chains the lang, quality and dedup replays over documents, as
# curation.curate chains the operators
_q("curation_pipeline", f"""
        WITH RECURSIVE {_dedup_ctes("documents")},
        {_quality_cte("documents")},{_LANG_CTES}
        SELECT d.doc_id, lp.pred_lang,
               CAST(qb.quality_bp AS BIGINT) AS quality_bp
        FROM documents d
        JOIN lp USING (doc_id)
        JOIN qb USING (doc_id)
        WHERE lp.pred_lang = d.lang AND qb.quality_bp >= 5500
          AND {_KEPT}""",
   lambda spark, sf: CU.curate(_raw_docs(spark, sf)))

# connected components via recursive CTE over the same pair graph
# as dedup_ngram_jaccard
_q("dedup_clusters", f"""
        WITH RECURSIVE {_exf_ctes("documents")},
        {_PAIRS_CTES},{_CLUSTER_CTES}
        SELECT doc_id, cluster_id FROM clusters""",
   lambda spark, sf: D.dedup_clusters(
       _raw_docs(spark, sf), threshold=0.30, max_shingle_df="auto"))

# deterministic "take N tokens per language" sampling: histogram-
# cutoff form on the Spark side (no whole-group window); the oracle
# is the single-window replay of the prefix rule (pytest proves the
# two identical) — keep while inclusive cumsum in (md5(url), url)
# order stays <= 2000 per lang.  Budget 2000 cuts every lang at
# sf0.01 (kept 32-40 of 64-218 docs per lang)
_q("crawl_token_budget", f"""
        WITH t AS (
            SELECT lang, {_URL_SQL} AS url,
                   CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
            FROM documents),
        c AS (
            SELECT lang, url, n_tokens,
                   SUM(n_tokens) OVER (
                       PARTITION BY lang ORDER BY md5(url), url) AS cum
            FROM t)
        SELECT lang, url, n_tokens FROM c WHERE cum <= 2000""",
   lambda spark, sf: MX.token_budget_mix(
       _docs(spark, sf), budget_tokens=2000))

# SemDeDup (Abbas et al. 2023): k-means cells + within-cell cosine
# screening, keep-closest-to-centroid; τ=0.4 for the same
# non-vacuity reason as embedding_dedup (the synthetic embeddings
# max out near cos 0.5).  The oracle replays the SAME integer-exact
# Lloyd sweeps (_KM_WITH), recomputes each vector's bigint squared
# L2 to its final centroid, and applies the identical within-cell
# screening rule — drop a iff some same-cell b with cos ≥ 0.4 has
# (centroid_d, vec_id) strictly smaller.
_q("semantic_dedup", _KM_WITH + f""",
        fin AS (SELECT vec_id, cid, centroid_d FROM (
            SELECT v.vec_id, {_KM_C}.cid,
                   CAST({_kdist("v.qe", f"{_KM_C}.c")} AS BIGINT)
                       AS centroid_d,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {_kdist("v.qe", f"{_KM_C}.c")},
                                {_KM_C}.cid) AS rn
            FROM v CROSS JOIN {_KM_C}) WHERE rn = 1),
        dup AS (
            SELECT DISTINCT a.vec_id
            FROM fin a JOIN fin b
              ON a.cid = b.cid AND a.vec_id <> b.vec_id
             AND (b.centroid_d < a.centroid_d
                  OR (b.centroid_d = a.centroid_d
                      AND b.vec_id < a.vec_id))
            JOIN embeddings ea ON ea.vec_id = a.vec_id
            JOIN embeddings eb ON eb.vec_id = b.vec_id
            WHERE round(list_cosine_similarity(
                      CAST(ea.embedding AS DOUBLE[]),
                      CAST(eb.embedding AS DOUBLE[])), 6) >= 0.4)
        SELECT f.vec_id, f.cid, f.centroid_d,
               f.vec_id NOT IN (SELECT vec_id FROM dup) AS kept
        FROM fin f""",
   lambda spark, sf: S.semantic_dedup(
       _par(_emb(spark, sf), "vec_id"), threshold=0.4,
       n_clusters=8, iters=2))

# the full modern recipe (curate_web + Gopher gate + CCNet fluency
# tail-drop) as one plan, over the contact-augmented corpus; gopher
# stops corpus-adapted as in gopher_rules.  The oracle chains the
# replays as curation.curate_full chains the operators: scrub → Gopher
# gate → lang/quality/OOV → fluency tail-drop → exact + near dedup.
# EVERY corpus-relative cut (shingle df, vocab head) counts the GOPHER
# SURVIVORS (s), mirroring curate_full's oov_stats(docs3)/
# dedup_clusters(docs3, 'auto'); the fluency LM trains on the
# survivors too.
_q("curate_full", f"""
        WITH RECURSIVE {_AUG_CTE},
        s0 AS (SELECT doc_id, lang, {_SCRUB_SQL} AS text FROM aug),
        {_gopher_cte("s0")},
        s AS MATERIALIZED (
            SELECT s0.* FROM s0 JOIN gm USING (doc_id) WHERE gm.passes),
        {_dedup_ctes("s")},{_quality_cte("s")},{_LANG_CTES},
        {_oov_ctes("s")},{_fluency_ctes("s")}
        SELECT d.doc_id, lp.pred_lang,
               CAST(qb.quality_bp AS BIGINT) AS quality_bp,
               ost.oov_bp, flu.fluency_bp, flu.bucket
        FROM s d
        JOIN lp USING (doc_id)
        JOIN qb USING (doc_id)
        JOIN ost USING (doc_id)
        JOIN flu USING (doc_id)
        WHERE lp.pred_lang = d.lang AND qb.quality_bp >= 5500
          AND ost.oov_bp <= 600 AND flu.bucket <> 'tail'
          AND {_KEPT}""",
   lambda spark, sf: CU.curate_full(
       with_contacts(_raw_docs(spark, sf)),
       gopher_min_words=20, gopher_stops=("the", "a")))

# τ=0.4: the synthetic embeddings max out at cos≈0.47 (sf0.01) /
# 0.51 (sf0.1) within a label bucket — 0.8 made the check vacuous
# (0 rows both sides, VERDICT r01 item 6); 0.4 yields 5 / 86 pairs
_q("embedding_dedup", """
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(
                   CAST(a.embedding AS DOUBLE[]),
                   CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(
                  CAST(a.embedding AS DOUBLE[]),
                  CAST(b.embedding AS DOUBLE[])), 6) >= 0.4""",
   lambda spark, sf: S.embedding_knn_dedup(_emb(spark, sf), threshold=0.4))

_q("token_stats", f"""
        WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks
                   FROM documents)
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_obs,
               round(list_sum(list_transform(toks, x -> length(x)))
                     * 1.0 / greatest(len(toks), 1), 4) AS avg_token_len,
               CAST(list_sum(list_transform(
                   toks, x -> (length(x) + 3) // 4)) AS BIGINT)
                   AS n_subword_est
        FROM t""",
   lambda spark, sf: T.token_count_cols(_raw_docs(spark, sf)))

_q("quality_score", f"""
        WITH {_quality_cte("documents")}
        SELECT doc_id, q_len_bp, q_alpha_bp, punct_bp, quality_bp
        FROM qb""",
   lambda spark, sf: T.quality_score(_raw_docs(spark, sf)))

_q("doc_fingerprint", f"""
        SELECT doc_id, {_fingerprint_sql('text')} AS fingerprint
        FROM documents""",
   lambda spark, sf: T.doc_fingerprints(_raw_docs(spark, sf)))

_q("lang_id", f"""
        WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
        {_LANG_CTES}
        SELECT doc_id, pred_lang, hits FROM lp""",
   lambda spark, sf: T.lang_id(_raw_docs(spark, sf)))

_q("clean_text", """
        WITH c AS (
            SELECT doc_id,
                   lower(trim(regexp_replace(text, '[ \t\n]+', ' ',
                                             'g'))) AS clean_text
            FROM documents)
        SELECT doc_id, clean_text,
               CAST(length(clean_text) AS BIGINT) AS clean_len FROM c""",
   lambda spark, sf: T.clean_text(_raw_docs(spark, sf)))

# multimodal plumbing over the rendered pages: plain loader — these
# are JVM projections / tiny decoders, and the _par exchange
# measurably costs more than the map side it would parallelize (see
# _par policy note)
_q("binary_meta", f"""
        SELECT {_URL_SQL} AS url,
               octet_length(encode({_PAGE_SQL})) AS n_bytes,
               hex(encode(substring({_PAGE_SQL}, 1, 4))) AS magic_hex,
               sha256({_PAGE_SQL}) AS digest
        FROM documents""",
   lambda spark, sf: MM.binary_metadata(load_documents(spark, sf)))

# image stub: the deterministic fake dims are closed-form over the
# rendered page bytes, so even the stub is oracle-checkable
_q("image_features_stub", f"""
        WITH b AS (SELECT {_URL_SQL} AS url,
                          octet_length(encode({_PAGE_SQL})) AS n
                   FROM documents)
        SELECT url, CAST(n AS BIGINT) AS n_bytes,
               CAST(n % 640 + 1 AS INTEGER) AS width,
               CAST(n % 480 + 1 AS INTEGER) AS height,
               CAST(3 AS INTEGER) AS channels,
               false AS decoded,
               'stub-decoder: deterministic fake dims' AS note
        FROM b""",
   lambda spark, sf: MM.extract_image_features(load_documents(spark, sf)))

# audio stub: deterministic fake meta, closed-form over page bytes
_q("audio_features_stub", f"""
        WITH b AS (SELECT {_URL_SQL} AS url,
                          octet_length(encode({_PAGE_SQL})) AS n
                   FROM documents)
        SELECT url, CAST(n AS BIGINT) AS n_bytes,
               CAST(16000 + (n % 3) * 8000 AS INTEGER) AS sample_rate,
               CAST(1 AS INTEGER) AS channels,
               CAST(n * 4 AS BIGINT) AS n_samples,
               CAST(n * 4 * 1000 // (16000 + (n % 3) * 8000) AS BIGINT)
                   AS duration_ms,
               false AS decoded,
               'stub-decoder: deterministic fake audio meta' AS note
        FROM b""",
   lambda spark, sf: MM.extract_audio_features(load_documents(spark, sf)))

_q("events_topk", """
        SELECT user_id, event_id, event_type,
               round(value, 6) AS value, rk
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY user_id
                  ORDER BY value DESC, event_id) AS rk
              FROM events)
        WHERE rk <= 3""",
   lambda spark, sf: R.events_topk_per_user(
       load_table(spark, sf, "events")))

_q("part_shipped", """
        SELECT p.p_partkey AS partkey, p.p_name AS part_name,
               round(sum(l.l_quantity), 4) AS total_qty,
               count(*) AS n_lines
        FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
        GROUP BY p.p_partkey, p.p_name""",
   lambda spark, sf: R.supplier_part_join(
       load_table(spark, sf, "part"),
       load_table(spark, sf, "supplier"),
       load_table(spark, sf, "lineitem")))

# SRP-LSH: the no-quantizer 10^12-vector shape (random-hyperplane
# buckets instead of the label column).  The oracle replays it in
# SQL: identical LCG-derived hyperplanes (from
# operators/similarity.srp_planes — single source of truth), same
# band keys, same exact-cosine verification
_SRP_PLANE_ROWS = ", ".join(
    f"({j}, [{', '.join(repr(x) for x in p)}])"
    for j, p in enumerate(S.srp_planes(32, 64)))
_q("embedding_srp_lsh", f"""
        WITH planes AS (
            SELECT * FROM (VALUES {_SRP_PLANE_ROWS}) AS p(pid, w)),
        bits AS (
            SELECT e.vec_id, p.pid,
                   CASE WHEN list_inner_product(
                            CAST(e.embedding AS DOUBLE[]), p.w) >= 0
                        THEN 1 ELSE 0 END AS bit
            FROM embeddings e, planes p),
        keys AS (
            SELECT vec_id, pid // 8 AS band,
                   CAST(SUM(bit << (pid % 8)) AS BIGINT) AS key
            FROM bits GROUP BY 1, 2),
        cands AS (
            SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
            FROM keys a JOIN keys b
              ON a.band = b.band AND a.key = b.key
             AND a.vec_id < b.vec_id)
        SELECT va AS vec_a, vb AS vec_b,
               round(list_cosine_similarity(
                   CAST(ea.embedding AS DOUBLE[]),
                   CAST(eb.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM cands
        JOIN embeddings ea ON ea.vec_id = va
        JOIN embeddings eb ON eb.vec_id = vb
        WHERE round(list_cosine_similarity(
                  CAST(ea.embedding AS DOUBLE[]),
                  CAST(eb.embedding AS DOUBLE[])), 6) >= 0.4""",
   lambda spark, sf: S.embedding_srp_lsh_dedup(
       _emb(spark, sf), threshold=0.4))

_q("sim_topk", """
        WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id,
               round(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]),
                   CAST(q.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM embeddings e, q
        ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
   lambda spark, sf: S.cosine_topk(
       _emb(spark, sf), _query_vec(spark, sf), 10))

_q("ann_ivf_topk", """
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id = 0),
        cent AS (
            SELECT label, list(m ORDER BY i) AS centroid
            FROM (SELECT label, i,
                         avg(CAST(embedding[i] AS DOUBLE)) AS m
                  FROM embeddings, range(1, 65) t(i)
                  GROUP BY label, i)
            GROUP BY label),
        probed AS (
            SELECT label FROM cent, q
            ORDER BY round(list_cosine_similarity(centroid, qv), 9) DESC,
                     label
            LIMIT 2)
        SELECT e.vec_id,
               round(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cos_sim
        FROM embeddings e JOIN probed USING (label), q
        ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
   lambda spark, sf: S.ivf_topk(
       _emb(spark, sf), _query_vec(spark, sf), 10, nprobe=2))


# crawl delta: previous snapshot (base fetches minus every 9th doc)
# vs current (latest captures minus every 11th doc) — added/removed/
# changed/unchanged per host.  Membership and change are closed-form
# in doc_id (old = %9-survivor base bytes; new = %11-survivor latest
# bytes, which differ exactly when a refetch happened: doc_id % 3 = 0)
def _crawl_delta(spark: SparkSession, sf: str) -> DataFrame:
    crawl = load_crawl(spark, sf)
    old = (crawl.where((F.col("fetch_seq") == 0)
                       & (F.col("doc_id") % 9 != 0))
           .select("url", "n_bytes"))
    new = WU.url_dedup_latest(crawl.where(F.col("doc_id") % 11 != 0))
    return WU.crawl_delta(old, new)


_q("crawl_delta", """
        WITH cat AS (
            SELECT (source || '.example.com') AS host,
                   CASE WHEN doc_id % 9 = 0 AND doc_id % 11 <> 0
                            THEN 'added'
                        WHEN doc_id % 9 <> 0 AND doc_id % 11 = 0
                            THEN 'removed'
                        WHEN doc_id % 3 = 0 THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM documents
            WHERE NOT (doc_id % 9 = 0 AND doc_id % 11 = 0))
        SELECT host, status, count(*) AS n
        FROM cat GROUP BY host, status""",
   _crawl_delta)

# deterministic md5-bucket sample: the reproducible alternative to
# df.sample (same urls in/out under any partitioning or resume)
_q("crawl_domain_sample", f"""
        WITH {_CRAWL_CTE}
        SELECT doc_id, url,
               strftime(warc_ts, '%Y-%m-%d %H:%M:%S') AS warc_ts,
               n_bytes, fetch_seq
        FROM crawl
        WHERE {_hex6_mod_sql('url')} < 2000""",
   lambda spark, sf: (
       WU.domain_hash_sample(load_crawl(spark, sf), rate_bp=2000)
       .select("doc_id", "url",
               F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss")
               .alias("warc_ts"),
               "n_bytes", "fetch_seq")))

# ---- end of the driver window: the declarations below get no row
# in the driver's CORRECTNESS file ----

# learned coarse quantizer: fixed-seed integer-exact k-means, no
# label column needed (the 10^12-vector unlabeled shape); the oracle
# replays the Lloyd sweeps (_KM_WITH), nprobe 2, k 10
_q("ann_kmeans_topk", _KM_WITH + f""",
        probed AS (SELECT cid FROM {_KM_C} CROSS JOIN qv
                   ORDER BY {_kdist("c", "qv.qe")}, cid LIMIT 2),
        fin AS (SELECT vec_id, cid FROM (
            SELECT v.vec_id, {_KM_C}.cid,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {_kdist("v.qe", f"{_KM_C}.c")},
                                {_KM_C}.cid) AS rn
            FROM v CROSS JOIN {_KM_C}) WHERE rn = 1)
        SELECT e.vec_id,
               round(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), qv.qf), 6) AS cos_sim
        FROM embeddings e CROSS JOIN qv
        WHERE e.vec_id IN (SELECT vec_id FROM fin
                           WHERE cid IN (SELECT cid FROM probed))
        ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
   lambda spark, sf: S.ann_kmeans_topk(
       _par(_emb(spark, sf), "vec_id"), _query_vec(spark, sf), 10,
       n_clusters=8, iters=2, nprobe=2))

# REAL header decoders over synthesized closed-form PNG/WAV payloads
# (sources.documents.render_png / render_wav; decoded=true — the stub
# fallback only fires on unknown magic, exercised by the *_stub
# queries): every header field is a function of doc_id, so DuckDB
# verifies the actual PNG-IHDR / WAV-fmt parse.  PNG bytes: 8 sig +
# 25 IHDR + (12 + doc_id%13+1) IDAT + 12 IEND.
_q("image_features", """
        SELECT ('doc://' || source || '/' || CAST(doc_id AS VARCHAR)
                || '#png') AS url,
               CAST(58 + doc_id % 13 AS BIGINT) AS n_bytes,
               CAST(doc_id % 640 + 1 AS INTEGER) AS width,
               CAST(doc_id % 480 + 1 AS INTEGER) AS height,
               CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3
                    ELSE 4 END AS INTEGER) AS channels,
               true AS decoded,
               ('png-ihdr bit_depth=8 color_type='
                || CASE doc_id % 3 WHEN 0 THEN '0' WHEN 1 THEN '2'
                   ELSE '6' END) AS note
        FROM documents""",
   lambda spark, sf: MM.extract_image_features(
       render_png(_raw_docs(spark, sf)), col="payload"))

# WAV bytes: 44-byte header + data (channels * 2 * frames);
# channels = doc_id%2+1, rate = 8000+(doc_id%5)*8000,
# frames = doc_id%50+10
_q("audio_features", """
        WITH p AS (SELECT doc_id, source,
                          doc_id % 2 + 1 AS ch,
                          8000 + (doc_id % 5) * 8000 AS rate,
                          doc_id % 50 + 10 AS frames
                   FROM documents)
        SELECT ('doc://' || source || '/' || CAST(doc_id AS VARCHAR)
                || '#wav') AS url,
               CAST(44 + ch * 2 * frames AS BIGINT) AS n_bytes,
               CAST(rate AS INTEGER) AS sample_rate,
               CAST(ch AS INTEGER) AS channels,
               CAST(frames AS BIGINT) AS n_samples,
               CAST(frames * 1000 // rate AS BIGINT) AS duration_ms,
               true AS decoded,
               'wav-fmt bits=16' AS note
        FROM p""",
   lambda spark, sf: MM.extract_audio_features(
       render_wav(_raw_docs(spark, sf)), col="payload"))

# REAL PDF parser (north-rule "PDF/layout parse"): xref walk, page
# tree, /Length-delimited streams, FlateDecode (stdlib zlib),
# escape/hex/TJ strings, and the layout y-sort — over synthesized
# structurally-valid 3-page PDFs whose page texts are closed-form in
# doc_id (sources/documents.py::render_pdf): page 1's body-line count
# is doc_id%3+1 and the lines are PAINTED reversed in the stream, so
# a hash match here verifies the whole parse.
_q("pdf_text_extract", """
        WITH p AS (SELECT doc_id, source, doc_id % 3 + 1 AS k
                   FROM documents),
        pages AS (
            SELECT doc_id, source, 1 AS page,
                   'Heading for document ' || doc_id || chr(10)
                   || 'Body line 1 of document ' || doc_id
                   || CASE WHEN k >= 2 THEN chr(10)
                        || 'Body line 2 of document ' || doc_id
                      ELSE '' END
                   || CASE WHEN k >= 3 THEN chr(10)
                        || 'Body line 3 of document ' || doc_id
                      ELSE '' END
                   || chr(10) || 'Escape (parens) \\ slash'
                   || chr(10) || 'Hex line' AS text,
                   'pdf-text via=xref filter=none' AS note
            FROM p
            UNION ALL
            SELECT doc_id, source, 2,
                   'Document ' || doc_id || ' continued on page 2'
                   || chr(10) || 'Token ' || (doc_id % 100)
                   || ' of section ' || (doc_id % 7),
                   'pdf-text via=xref filter=none'
            FROM p
            UNION ALL
            SELECT doc_id, source, 3,
                   'Colophon page' || chr(10)
                   || 'Synthesized deterministic corpus',
                   'pdf-text via=xref filter=flate'
            FROM p)
        SELECT ('doc://' || source || '/' || CAST(doc_id AS VARCHAR)
                || '#pdf') AS url,
               CAST(page AS INTEGER) AS page,
               CAST(length(text) - length(replace(text, chr(10), ''))
                    + 1 AS INTEGER) AS n_lines,
               CAST(length(text) AS INTEGER) AS n_chars,
               text,
               true AS decoded,
               note
        FROM pages""",
   lambda spark, sf: PDF.extract_pdf_text(
       render_pdf(_par(_raw_docs(spark, sf))), col="payload"))

# streaming surface: real readStream→writeStream runs (availableNow)
# whose emitted output is deterministic by construction — see
# runtime/streaming snapshot docstrings.  The emitted stream output
# equals a plain tumbling-window GROUP BY (watermark passed every
# real window via the sentinel) / a per-url dedup (identical
# duplicate rows), so batch SQL is a full value oracle
_q("stream_windowed_metrics", f"""
        WITH t AS (SELECT doc_id,
                          octet_length(encode({_PAGE_SQL})) AS nb,
                          date_trunc('minute',
                              TIMESTAMP '2025-01-01 00:00:00'
                              + doc_id * INTERVAL 1 SECOND) AS ws
                   FROM documents)
        SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
               strftime(ws + INTERVAL 1 MINUTE,
                        '%Y-%m-%d %H:%M:%S') AS window_end,
               count(*) AS n_docs,
               CAST(sum(nb) AS BIGINT) AS html_bytes
        FROM t GROUP BY ws""",
   lambda spark, sf: ST.windowed_metrics_snapshot(spark, _docs(spark, sf)))

_q("stream_first_seen_dedup", f"""
        SELECT {_URL_SQL} AS url,
               strftime(TIMESTAMP '2025-01-01 00:00:00'
                        + doc_id * INTERVAL 1 SECOND,
                        '%Y-%m-%d %H:%M:%S') AS warc_ts,
               CAST(octet_length(encode({_PAGE_SQL})) AS BIGINT) AS n_bytes
        FROM documents""",
   lambda spark, sf: ST.first_seen_snapshot(spark, _docs(spark, sf)))

# per-host session windows: the corpus' uniform 1s timestamps
# can't exhibit sessions, so the query feeds a deterministic
# irregular rendering (_session_docs: 60s per in-host step, +600s
# jump every 5th event) — gap=5min groups each host's fetches into
# bursts of 5.  The oracle replays the rendering and the classic
# gaps-and-islands SQL; session_end = last event + the 300s gap
# (Spark session semantics).  Gaps are 60s or 660s, never exactly
# the 300s boundary (see sessionize_snapshot docstring).
_q("stream_sessionize", f"""
        WITH e AS (
            SELECT 'src' || CAST(doc_id % 20 AS VARCHAR) AS host,
                   TIMESTAMP '2025-01-01 00:00:00'
                     + (60 * (doc_id // 20) + 600 * (doc_id // 100))
                       * INTERVAL 1 SECOND AS ts,
                   octet_length(encode({_PAGE_SQL})) AS nb
            FROM documents),
        m AS (
            SELECT host, ts, nb,
                   CASE WHEN ts - lag(ts) OVER (
                            PARTITION BY host ORDER BY ts)
                        > INTERVAL 300 SECOND THEN 1 ELSE 0 END AS brk
            FROM e),
        g AS (
            SELECT host, ts, nb,
                   sum(brk) OVER (PARTITION BY host ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
            FROM m)
        SELECT host,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(ts) + INTERVAL 300 SECOND,
                        '%Y-%m-%d %H:%M:%S') AS session_end,
               count(*) AS n_docs,
               CAST(sum(nb) AS BIGINT) AS html_bytes
        FROM g GROUP BY host, sid""",
   lambda spark, sf: ST.sessionize_snapshot(
       spark, _session_docs(spark, sf)))

# ---- dedup family ----
_q("dedup_exact", """
        SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        FROM documents GROUP BY text""",
   lambda spark, sf: D.dedup_exact(_raw_docs(spark, sf)))

_NGRAM_PAIRS_SQL = f"""
        WITH {_exf_ctes("documents")},{_PAIRS_CTES}
        SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM pairs"""
_q("dedup_ngram_jaccard", _NGRAM_PAIRS_SQL,
   lambda spark, sf: D.dedup_ngram_jaccard(
       _raw_docs(spark, sf), threshold=0.30, max_shingle_df="auto"))

# MinHash-LSH with exact-Jaccard verification: output is the subset
# of exact pairs that share an LSH band; at 8 bands x 4 rows and
# tau=0.30 recall is 100% on this corpus (verified at sf0.01 AND
# sf0.1), so the oracle is the exact pair set
_q("dedup_minhash_lsh", _NGRAM_PAIRS_SQL,
   lambda spark, sf: D.dedup_minhash_lsh(
       _raw_docs(spark, sf), threshold=0.30, max_shingle_df="auto"))

# simhash: DuckDB has no xxhash64, so the oracles read an
# INDEPENDENT golden (tools/make_simhash_golden.py: pure-Python
# spec XXH64 → simhash per distinct text, keyed by md5(text)).
# The banded candidate join + hamming verify is then replayed in
# plain SQL over the golden signatures — a full value oracle for
# both the signatures and the pair output.
_SIMHASH_GOLDEN = f"{_ROOT}/fixtures/simhash_golden.parquet"
_SIGS_CTE = f"""
        sigs AS (
            SELECT d.doc_id, g.simhash
            FROM documents d
            JOIN read_parquet('{_SIMHASH_GOLDEN}') g ON md5(d.text) = g.text_md5)"""
# the hot-bucket cap (max_bucket=64) is replayed verbatim: buckets
# with >64 members are excluded from the candidate join on BOTH
# sides, mirroring operators/dedup.dedup_simhash
_q("dedup_simhash", f"""
        WITH {_SIGS_CTE},
        banded_all AS (
            SELECT doc_id, simhash, v.band,
                   (simhash >> (v.band * 16)) & 65535 AS key
            FROM sigs, (VALUES (0), (1), (2), (3)) AS v(band)),
        hot AS (
            SELECT band, key FROM banded_all
            GROUP BY band, key HAVING count(*) > 64),
        banded AS (
            SELECT ba.* FROM banded_all ba
            ANTI JOIN hot h ON ba.band = h.band AND ba.key = h.key)
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
                   AS hamming
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
   lambda spark, sf: D.dedup_simhash(_raw_docs(spark, sf), max_hamming=3))

_q("simhash_signatures", f"""
        WITH {_SIGS_CTE}
        SELECT doc_id, simhash FROM sigs""",
   lambda spark, sf: D.simhash_signatures(_raw_docs(spark, sf)))

# df-cut observability: how many docs lose ALL their shingles to
# the "auto" boilerplate cut (no-silent-drop principle)
_q("shingle_drop_stats", f"""
        WITH {_exf_ctes("documents")}
        SELECT (SELECT count(*) FROM documents) AS n_docs,
               (SELECT count(*) FROM documents d
                WHERE NOT EXISTS (SELECT 1 FROM exf e
                                  WHERE e.doc_id = d.doc_id))
               AS n_docs_no_shingles""",
   lambda spark, sf: D.shingle_drop_stats(_raw_docs(spark, sf)))

# CCNet-style corpus-level line dedup: 8-token segments, keep the
# globally first (doc_id, seg_idx) occurrence of each distinct
# segment, reassemble survivors in document order
_q("dedup_lines", f"""
        WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
        segs AS (
            SELECT doc_id,
                   unnest(range(0,
                       CAST(ceil(len(t) / 8.0) AS BIGINT))) AS seg_idx,
                   unnest(list_transform(
                       range(0, CAST(ceil(len(t) / 8.0) AS BIGINT)),
                       i -> array_to_string(t[(i*8+1):(i*8+8)], ' ')))
                       AS seg
            FROM toks WHERE len(t) > 0),
        r AS (SELECT doc_id, seg_idx, seg,
                     row_number() OVER (PARTITION BY seg
                                        ORDER BY doc_id, seg_idx) AS rn
              FROM segs)
        SELECT doc_id,
               coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
                        FILTER (WHERE rn = 1), '') AS kept_text,
               count(*) AS n_segments,
               count(*) FILTER (WHERE rn = 1) AS n_kept
        FROM r GROUP BY doc_id""",
   lambda spark, sf: D.dedup_lines(_raw_docs(spark, sf)))

# benchmark decontamination: per-doc 3-gram overlap vs the distinct
# shingle set of the held-out slice doc_id % 97 == 0 (stands in for
# the eval-suite corpus); contam_bp in integer basis points (no
# float round ties)
_q("decontaminate", f"""
        WITH tt AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents
                    WHERE doc_id % 97 <> 0),
        ts AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM tt),
        bt AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents
               WHERE doc_id % 97 = 0),
        bs AS (SELECT DISTINCT unnest({_SHINGLES_SQL}) AS sh FROM bt)
        SELECT doc_id, count(*) AS n_shingles,
               count(*) FILTER (WHERE sh IN (SELECT sh FROM bs))
                   AS n_contaminated,
               (count(*) FILTER (WHERE sh IN (SELECT sh FROM bs)))
                   * 10000 // count(*) AS contam_bp
        FROM ts GROUP BY doc_id""",
   lambda spark, sf: D.decontaminate(_raw_docs(spark, sf)))

# ---- PII anonymization + OOV quality signal, over the
# contact-augmented corpus (deterministic PII suffix on every
# CONTACT_MOD-th doc so the checks are non-vacuous) ----
# the full web flow (scrub → lang/quality/oov → exact + near-dup
# dedup) in ONE plan; the oracle chains the replays over the SCRUBBED
# text s, as curation.curate_web chains the operators
_q("curate_web", f"""
        WITH RECURSIVE {_AUG_CTE},
        s AS (SELECT doc_id, lang, {_SCRUB_SQL} AS text FROM aug),
        {_dedup_ctes("s")},{_quality_cte("s")},{_LANG_CTES},
        {_oov_ctes("s")}
        SELECT d.doc_id, lp.pred_lang,
               CAST(qb.quality_bp AS BIGINT) AS quality_bp,
               ost.oov_bp
        FROM s d
        JOIN lp USING (doc_id)
        JOIN qb USING (doc_id)
        JOIN ost USING (doc_id)
        WHERE lp.pred_lang = d.lang AND qb.quality_bp >= 5500
          AND ost.oov_bp <= 600 AND {_KEPT}""",
   lambda spark, sf: CU.curate_web(with_contacts(_raw_docs(spark, sf))))

# identical RE2-safe patterns replayed by DuckDB (regexp_replace
# needs the 'g' flag there — DuckDB replaces only the first match by
# default, Spark replaces all)
_q("pii_scrub", f"""
        WITH {_AUG_CTE},
        e1 AS (SELECT doc_id, text,
                      regexp_replace(text, '{PII.PII_EMAIL}',
                                     '<EMAIL>', 'g') AS t1
               FROM aug),
        e2 AS (SELECT doc_id, text, t1,
                      regexp_replace(t1, '{PII.PII_IPV4}',
                                     '<IP>', 'g') AS t2
               FROM e1)
        SELECT doc_id,
               regexp_replace(t2, '{PII.PII_PHONE}', '<PHONE>', 'g')
                   AS scrubbed_text,
               CAST(len(regexp_extract_all(text, '{PII.PII_EMAIL}'))
                    AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(t1, '{PII.PII_IPV4}'))
                    AS BIGINT) AS n_ips,
               CAST(len(regexp_extract_all(t2, '{PII.PII_PHONE}'))
                    AS BIGINT) AS n_phones
        FROM e2""",
   lambda spark, sf: PII.pii_scrub(with_contacts(_raw_docs(spark, sf))))

# OOV vs the corpus common-vocabulary head
_q("oov_stats", f"""
        WITH {_AUG_CTE},{_oov_ctes("aug")}
        SELECT doc_id, n_tokens, n_oov, oov_bp FROM ost""",
   lambda spark, sf: T.oov_stats(with_contacts(_raw_docs(spark, sf))))

# ---- WARC container path: files → records → extraction (the Common
# Crawl first mile; files and every record field are closed-form) ----
# (A/B'd: repartitioning the files frame LOST — the binary payloads
# cross the exchange and the record parser is already fed by the
# agg's own partitioning)
# record order inside a file is doc_id order, so rec_idx is a
# per-file row_number; warc_id / rec_idx mirror
# sources/documents.render_warc's (source, doc_id div
# WARC_DOC_BLOCK) file bucketing
_q("warc_records", f"""
        SELECT (source || '-p' ||
                CAST(doc_id // {WARC_DOC_BLOCK} AS VARCHAR)) AS warc_id,
               CAST(row_number() OVER (
                        PARTITION BY source, doc_id // {WARC_DOC_BLOCK}
                        ORDER BY doc_id) - 1 AS INT)
                   AS rec_idx,
               {_URL_SQL} AS target_uri,
               strftime(TIMESTAMP '2025-01-01 00:00:00'
                        + doc_id * INTERVAL 1 SECOND,
                        '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
               CAST(octet_length(encode({_PAGE_SQL})) AS BIGINT)
                   AS content_length
        FROM documents""",
   lambda spark, sf: (
       WA.parse_warc(load_warc(spark, sf))
       .select("warc_id", "rec_idx", "target_uri", "warc_date",
               "content_length")))

# WARC→extract end-to-end equals the direct extraction pipeline
_q("warc_extract", _EXTRACT_PARITY_SQL,
   lambda spark, sf: (
       WA.warc_extract(load_warc(spark, sf))
       .select("url", "extracted_text")))

# ---- url layer over the synthesized crawl fetch log ----
_q("crawl_url_parse", f"""
        WITH {_CRAWL_CTE}
        SELECT DISTINCT url, 'https' AS scheme,
               (source || '.example.com') AS host,
               'example.com' AS registered_domain,
               ('/' || lang || '/sec' || CAST(doc_id % 50 AS VARCHAR) ||
                '/doc-' || CAST(doc_id AS VARCHAR) || '.html') AS path,
               ('ref=r' || CAST(doc_id % 7 AS VARCHAR)) AS query
        FROM crawl""",
   lambda spark, sf: WU.url_components(load_crawl(spark, sf)))

_q("crawl_dedup_latest", f"""
        WITH {_CRAWL_CTE}
        SELECT url,
               strftime(max(warc_ts), '%Y-%m-%d %H:%M:%S') AS warc_ts,
               max_by(n_bytes, warc_ts) AS n_bytes,
               count(*) AS n_fetches
        FROM crawl GROUP BY url""",
   lambda spark, sf: (
       WU.url_dedup_latest(load_crawl(spark, sf))
       .select("url",
               F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss")
               .alias("warc_ts"),
               "n_bytes", "n_fetches")))

_q("crawl_domain_stats", f"""
        WITH {_CRAWL_CTE}
        SELECT (source || '.example.com') AS host,
               count(DISTINCT url) AS n_urls,
               count(*) AS n_fetches,
               CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
               strftime(max(warc_ts), '%Y-%m-%d %H:%M:%S') AS latest_ts
        FROM crawl GROUP BY source""",
   lambda spark, sf: (
       WU.domain_stats(load_crawl(spark, sf))
       .select("host", "n_urls", "n_fetches", "total_bytes",
               F.date_format("latest_ts", "yyyy-MM-dd HH:mm:ss")
               .alias("latest_ts"))))


# robots-style blocklist: drop all of src3 plus /en/sec1* on every
# 4th source (fixed rule set, Disallow prefix semantics).  The rule
# set is fixed, so the oracle is a closed-form WHERE over the crawl
# CTE (path = /{lang}/sec{id%50}/… ⇒ the '/en/sec1' prefix rule hits
# lang='en' AND sec 1,1x)
def _crawl_blocklist(spark: SparkSession, sf: str) -> DataFrame:
    rules = spark.createDataFrame(
        [("src3.example.com", "/")]
        + [(f"src{k}.example.com", "/en/sec1") for k in
           (0, 4, 8, 12, 16)],
        "host string, path_prefix string")
    return (WU.blocklist_filter(load_crawl(spark, sf), rules)
            .select("doc_id", "url", "n_bytes", "fetch_seq"))


_q("crawl_blocklist", f"""
        WITH {_CRAWL_CTE}
        SELECT doc_id, url, n_bytes, fetch_seq FROM crawl
        WHERE NOT (source = 'src3')
          AND NOT (source IN ('src0', 'src4', 'src8', 'src12', 'src16')
                   AND lang = 'en'
                   AND CAST(doc_id % 50 AS VARCHAR) LIKE '1%')""",
   _crawl_blocklist)


# stratified mix: per-host sampling rates (src0 all, src1 5%, src2
# none, everyone else the 20% default); the oracle is a per-source
# rate CASE over the same md5 bucket polynomial
def _crawl_domain_mix(spark: SparkSession, sf: str) -> DataFrame:
    weights = spark.createDataFrame(
        [("src0.example.com", 10000), ("src1.example.com", 500),
         ("src2.example.com", 0)],
        "host string, rate_bp bigint")
    return (WU.domain_mix_sample(load_crawl(spark, sf), weights,
                                 default_rate_bp=2000)
            .select("doc_id", "url", "n_bytes", "fetch_seq"))


_q("crawl_domain_mix", f"""
        WITH {_CRAWL_CTE}
        SELECT doc_id, url, n_bytes, fetch_seq FROM crawl
        WHERE {_hex6_mod_sql('url')} <
              CASE source WHEN 'src0' THEN 10000
                          WHEN 'src1' THEN 500
                          WHEN 'src2' THEN 0
                          ELSE 2000 END""",
   _crawl_domain_mix)

# per-domain quota cap (salted two-phase top-k per host); ONE window
# suffices as the oracle (the Spark side's salted two-phase
# selection is exact, so results must be identical)
_q("crawl_domain_quota", f"""
        WITH {_CRAWL_CTE},
        u AS (SELECT DISTINCT url, (source || '.example.com') AS host
              FROM crawl),
        r AS (SELECT host, url,
                     row_number() OVER (
                         PARTITION BY host
                         ORDER BY {_hex6_mod_sql('url', 1 << 30)}, url)
                         AS rank
              FROM u)
        SELECT host, url, CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 10""",
   lambda spark, sf: WU.domain_quota(load_crawl(spark, sf), k=10))

# ---- text analysis ----
# integer-exact tf-idf keywords: floor-log2 idf = length(bin(x)) - 1
# on both engines (the lm_fluency/dsir weight convention); df over
# the aggregated tf frame; ties by term asc
_q("tfidf_topk", f"""
        WITH tf AS (
            SELECT doc_id, tok AS term, count(*) AS tf
            FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS tok
                  FROM documents)
            GROUP BY doc_id, tok),
        dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df_docs
                FROM tf GROUP BY term),
        n AS (SELECT count(*) AS nd FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, dfc.df_docs,
                   CAST(tf.tf * ((length(bin(n.nd)) - 1)
                        - (length(bin(dfc.df_docs)) - 1)) AS BIGINT)
                       AS score
            FROM tf JOIN dfc USING (term) CROSS JOIN n)
        SELECT doc_id, term, tf, df_docs, score, rnk FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY doc_id
                ORDER BY score DESC, term) AS BIGINT) AS rnk
            FROM scored) WHERE rnk <= 5""",
   lambda spark, sf: T.tfidf_topk(_raw_docs(spark, sf), k=5))

# CAST: DuckDB sum() returns HUGEINT; Spark's is BIGINT — the
# driver's value-hash is type-sensitive (VERDICT r01 item 2)
_q("lang_distribution", """
        SELECT lang, count(*) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS total_chars
        FROM documents GROUP BY lang""",
   lambda spark, sf: T.lang_distribution(_raw_docs(spark, sf)))

# Gopher-style repetition: dup-token basis points + token mass of
# the modal 2-gram (Spark computes the mode via a run-length scan
# over the sorted 2-gram array; the oracle via group-by max count —
# same integer, integer arithmetic both sides)
_q("repetition_stats", f"""
        WITH t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
        g AS (SELECT doc_id, {_ngrams_sql('t', 2)} AS grams,
                     len(t) AS n,
                     len(list_distinct(t)) AS nd
              FROM t),
        m AS (SELECT doc_id, max(c) AS best FROM (
                  SELECT doc_id, gg, count(*) AS c
                  FROM (SELECT doc_id, unnest(grams) AS gg FROM g)
                  GROUP BY doc_id, gg)
              GROUP BY doc_id)
        SELECT g.doc_id, CAST(g.n AS BIGINT) AS n_tokens,
               CAST((g.n - g.nd) * 10000 // greatest(g.n, 1) AS BIGINT)
                   AS dup_token_bp,
               CAST(coalesce(m.best, 0) * 2 * 10000
                    // greatest(g.n, 1) AS BIGINT) AS top2gram_bp
        FROM g LEFT JOIN m USING (doc_id)""",
   lambda spark, sf: T.repetition_stats(_raw_docs(spark, sf)))

# frame sampling: 4 evenly-spaced char windows + sha256 per window
_q("frame_sample", f"""
        WITH s AS (SELECT {_URL_SQL} AS url, {_PAGE_SQL} AS page
                   FROM documents)
        SELECT url, CAST(v.i AS INTEGER) AS frame_idx,
               CAST(floor(v.i * length(page) / 4.0) AS BIGINT)
                   AS frame_offset,
               sha256(substring(
                   page,
                   CAST(floor(v.i * length(page) / 4.0) AS BIGINT) + 1,
                   4096)) AS frame_sha256
        FROM s, (VALUES (0), (1), (2), (3)) AS v(i)""",
   lambda spark, sf: MM.frame_sample(load_documents(spark, sf)))

# ---- relational built-ins ----
_q("q1_pricing", """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 4) AS sum_qty,
               round(sum(l_extendedprice), 4) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 4)
                   AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               count(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""",
   lambda spark, sf: R.pricing_summary(load_table(spark, sf, "lineitem")))

_q("q3_top_orders", """
        WITH revenue AS (
            SELECT l_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 4)
                       AS revenue
            FROM lineitem GROUP BY l_orderkey)
        SELECT o.o_orderkey AS orderkey, c.c_name AS customer, r.revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN revenue r ON o.o_orderkey = r.l_orderkey
        ORDER BY r.revenue DESC, orderkey LIMIT 20""",
   lambda spark, sf: R.top_orders(
       load_table(spark, sf, "orders"),
       load_table(spark, sf, "customer"),
       load_table(spark, sf, "lineitem")))

# ---- host link graph and the training-data filters ----
# anchors out of the real kernel parse → weighted host->host edges;
# the fixture templates carry exactly 3 relative hrefs per doc, all
# resolving to the page's own host (= source, per _URL_SQL), so the
# closed form is one self-edge per source host with weight
# 3·docs(source)
_q("link_graph", """
        SELECT source AS src_host, source AS dst_host,
               CAST(3 * count(*) AS BIGINT) AS n_links
        FROM documents GROUP BY source""",
   lambda spark, sf: LG.host_link_graph(_docs(spark, sf)))

# integer-exact PageRank (3 sweeps) over a deterministic 20-host
# graph: the host universe comes from the corpus urls, edges are
# the closed-form (i -> (i+j²) mod n, weight 1+(i·j)%5) offsets —
# the fixture corpus is single-host-per-doc, so inter-host edges
# are synthesized; DuckDB replays universe, construction, and all
# three sweeps layer by layer.  // is DuckDB's floor-division
# (Spark: DIV) — identical on the positive bigints used here; SUMs
# cast back from HUGEINT
_PR_SWEEP = """
        r{K} AS (
            SELECT i.host,
                   CAST(15000000000000 // (100 * i.n)
                        + COALESCE(s.inflow, 0) AS BIGINT) AS rank
            FROM idx i LEFT JOIN (
                SELECT e.dst_host AS host,
                       CAST(SUM((r.rank * 85 * e.w) // (o.wout * 100))
                            AS BIGINT) AS inflow
                FROM edges e
                JOIN r{P} r ON e.src_host = r.host
                JOIN outw o ON e.src_host = o.src_host
                GROUP BY 1) s ON i.host = s.host)"""
_q("link_pagerank", """
        WITH hosts AS (SELECT DISTINCT source AS host FROM documents),
        idx AS (
            SELECT host, ROW_NUMBER() OVER (ORDER BY host) - 1 AS i,
                   (SELECT COUNT(*) FROM hosts) AS n
            FROM hosts),
        edges AS (
            SELECT a.host AS src_host, b.host AS dst_host,
                   CAST(1 + (a.i * v.j) % 5 AS BIGINT) AS w
            FROM idx a, (VALUES (1), (2), (3)) AS v(j), idx b
            WHERE b.i = (a.i + v.j * v.j) % a.n),
        outw AS (SELECT src_host, CAST(SUM(w) AS BIGINT) AS wout
                 FROM edges GROUP BY 1),
        r0 AS (SELECT host, CAST(1000000000000 // n AS BIGINT) AS rank
               FROM idx),"""
   + _PR_SWEEP.format(K=1, P=0) + ","
   + _PR_SWEEP.format(K=2, P=1) + ","
   + _PR_SWEEP.format(K=3, P=2) + """
        SELECT host, rank FROM r3""",
   lambda spark, sf: LG.host_pagerank(
       _synthetic_host_edges(_docs(spark, sf)), iters=3))

# exact duplicated-substring removal (Lee et al. 2021 ExactSubstr,
# hashed stride-1 window form): every 12-token stride-1 span
# occurring >= 2 times corpus-wide is cut from every document;
# window=12 so the corpus' planted near-dup families and refetch
# copies produce real cross-doc hits.  md5 of the space-joined span
# matches Spark's md5 byte-for-byte
_q("dedup_substrings", f"""
        WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
        wins AS (
            SELECT doc_id, generate_subscripts(g, 1) - 1 AS start,
                   unnest(list_transform(g, x -> md5(x))) AS h
            FROM (SELECT doc_id, {_ngrams_sql('t', 12)} AS g FROM toks)),
        dups AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2),
        hits AS (SELECT doc_id, list_sort(list(DISTINCT start)) AS starts
                 FROM wins JOIN dups USING (h) GROUP BY doc_id),
        kept AS (
            SELECT toks.doc_id, t,
                   CASE WHEN hits.doc_id IS NULL THEN t
                        ELSE list_filter(t, (x, i) ->
                            len(list_filter(starts,
                                s -> s <= i - 1 AND i - 1 < s + 12)) = 0)
                   END AS k
            FROM toks LEFT JOIN hits USING (doc_id))
        SELECT doc_id,
               coalesce(array_to_string(k, ' '), '') AS kept_text,
               len(t) AS n_tokens,
               len(t) - len(k) AS n_removed
        FROM kept""",
   lambda spark, sf: D.dedup_substrings(_raw_docs(spark, sf), window=12))

# CCNet-style LM fluency filter (Wenzek et al. 2019): per-lang
# head/middle/tail buckets (_fluency_ctes states the scoring rule)
_q("lm_fluency", f"""
        WITH {_fluency_ctes("documents")}
        SELECT doc_id, lang, n_bigrams, fluency_bp, bucket FROM flu""",
   lambda spark, sf: FL.lm_fluency(
       _raw_docs(spark, sf).select("doc_id", "text", "lang")))

# Gopher §A1.1 rules (Rae et al. 2021): the corpus text is
# single-line, so a deterministic doc_id-keyed rendering appends
# bullet/ellipsis/symbol lines to exercise every rule branch — the
# oracle replays it character-for-character (_GOPHER_TEXT_CTE mirrors
# _gopher_text) and scores it with _gopher_cte.  stops=('the','a'):
# the synthetic corpus vocabulary contains only 'the' from the
# paper's English stop list, so the corpus-adapted list keeps rule 7
# (>=2 distinct stops) non-vacuous — 204/500 docs pass at sf0.01 (the
# paper list stays the operator default)
_q("gopher_rules", f"""
        WITH {_GOPHER_TEXT_CTE},{_gopher_cte("g")}
        SELECT doc_id,
               nw AS n_words,
               nl AS n_lines,
               100 * twc // greatest(nw, 1) AS mean_word_len_x100,
               10000 * nh // greatest(nw, 1) AS hash_word_bp,
               10000 * ne // greatest(nw, 1) AS ellipsis_word_bp,
               10000 * nbl // greatest(nl, 1) AS bullet_line_bp,
               10000 * nel // greatest(nl, 1) AS ellipsis_line_bp,
               10000 * naw // greatest(nw, 1) AS alpha_word_bp,
               nsh AS n_stop_hits,
               passes
        FROM gm""",
   lambda spark, sf: GO.gopher_rules(
       _raw_docs(spark, sf).select("doc_id", _gopher_text()),
       min_words=20, stops=("the", "a")))

# DSIR (Xie et al. 2023): hashed-bigram importance weights of the
# lang='en' slice (target) over the whole corpus (raw).  Bucket =
# the doc_fingerprint char fold mod 2^31-1 mod 1024 over each
# bigram; weight = floor-log2(target_count+1) - floor-log2(raw_count+1)
# with floor-log2 corpus-size normalizers; selected = score >= 0
# (DuckDB // and Spark div both truncate toward zero — checked)
_q("dsir_weights", f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
        bg AS (SELECT doc_id, unnest({_ngrams_sql('t', 2)}) AS b FROM toks),
        bk AS (SELECT doc_id, {_fingerprint_sql('b')} % 1024 AS bkt
               FROM bg),
        tgt AS (
            SELECT bk.bkt FROM bk JOIN documents d USING (doc_id)
            WHERE d.lang = 'en'),
        rc AS (SELECT bkt, count(*) AS c FROM bk GROUP BY bkt),
        tc AS (SELECT bkt, count(*) AS c FROM tgt GROUP BY bkt),
        tot AS (SELECT (SELECT count(*) FROM bk) AS rt,
                       (SELECT count(*) FROM tgt) AS tt),
        w AS (
            SELECT rc.bkt,
                   CAST((length(bin(coalesce(tc.c, 0) + 1)) - 1) -
                        (length(bin(rc.c + 1)) - 1) AS BIGINT) AS w
            FROM rc LEFT JOIN tc USING (bkt)),
        sc AS (
            SELECT bk.doc_id,
                   CAST(count(*) AS BIGINT) AS nb,
                   CAST(sum(w.w) AS BIGINT) AS sw
            FROM bk JOIN w USING (bkt) GROUP BY bk.doc_id),
        fin AS (
            SELECT d.doc_id,
                   CAST(coalesce(sc.nb, 0) AS BIGINT) AS n_bigrams,
                   CAST(coalesce(sc.sw + sc.nb *
                        ((length(bin(tot.rt + 1)) - 1) -
                         (length(bin(tot.tt + 1)) - 1)), 0)
                        AS BIGINT) AS dsir_score
            FROM documents d LEFT JOIN sc USING (doc_id)
            CROSS JOIN tot)
        SELECT doc_id, n_bigrams, dsir_score,
               100 * dsir_score // greatest(n_bigrams, 1)
                   AS avg_score_x100,
               (n_bigrams > 0 AND dsir_score >= 0) AS selected
        FROM fin""",
   lambda spark, sf: DI.dsir_weights(
       _raw_docs(spark, sf).select("doc_id", "text"),
       _raw_docs(spark, sf).filter(F.col("lang") == "en")
       .select("doc_id", "text"),
       n_buckets=1024))

# MassiveText repetition filters (the gopher_rules companion) over a
# rendering that plants duplicate lines (doc_id%4==0) and an
# explicit duplicated 5-gram (doc_id%5==0, when not %4) so the line
# and dup-n-gram signals are non-vacuous; the corpus' own 31-word
# vocabulary drives the top-2/3/4-gram mass.  The oracle uses the
# O(G^2) count-per-distinct-gram forms (order-free — no reliance on
# engine sort collations), the Spark side the O(G log G) run-length
# folds; values must agree exactly
_REP_TOP_CTES = ",".join(f"""
        t{n} AS (
            SELECT doc_id,
                   coalesce(list_max(list_transform(list_distinct(g),
                       x -> len(list_filter(g, y -> y = x))
                            * (length(x) - {n - 1}))), 0) AS m{n}
            FROM (SELECT doc_id, {_ngrams_sql('w', n)} AS g FROM b))"""
    for n in (2, 3, 4))
_REP_DUP_CTES = ",".join(f"""
        d{n}a AS (
            SELECT doc_id, w, nw, g,
                   list_filter(list_distinct(g),
                       x -> len(list_filter(g, y -> y = x)) >= 2) AS ds
            FROM (SELECT doc_id, w, nw, {_ngrams_sql('w', n)} AS g
                  FROM b)),
        d{n} AS (
            SELECT doc_id,
                   coalesce(list_sum(list_transform(range(1, nw + 1),
                       i -> CASE WHEN len(list_filter(
                                range(greatest(i - {n - 1}, 1),
                                      least(i, nw - {n - 1}) + 1),
                                j -> list_contains(ds, g[j]))) > 0
                            THEN length(w[i]) ELSE 0 END)), 0) AS c{n}
            FROM d{n}a)""" for n in (5, 6, 7, 8, 9, 10))
_REP_JOINS = " ".join(
    [f"JOIN t{n} USING (doc_id)" for n in (2, 3, 4)]
    + [f"JOIN d{n} USING (doc_id)" for n in (5, 6, 7, 8, 9, 10)])
_REP_BP = ",\n               ".join(
    [f"CAST(10000 * m{n} // greatest(twc, 1) AS BIGINT)"
     f" AS top{n}gram_char_bp" for n in (2, 3, 4)]
    + [f"CAST(10000 * c{n} // greatest(twc, 1) AS BIGINT)"
       f" AS dup{n}gram_char_bp" for n in (5, 6, 7, 8, 9, 10)])
_REP_PASS = " AND ".join(
    ["10 * (nl - ndl) <= 3 * nl",
     "10 * dlc <= 2 * greatest(tlc, 1)",
     "10 * (np - ndp) <= 3 * np",
     "10 * dpc <= 2 * greatest(tpc, 1)"]
    + [f"100 * m{n} <= {t} * greatest(twc, 1)"
       for n, t in ((2, 20), (3, 18), (4, 16))]
    + [f"100 * c{n} <= {t} * greatest(twc, 1)"
       for n, t in ((5, 15), (6, 14), (7, 13), (8, 12), (9, 11),
                    (10, 10))])
_q("repetition_filters", f"""
        WITH g0 AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 4 = 0 THEN text || chr(10) ||
                            'echo line one' || chr(10) ||
                            'echo line one' || chr(10) || chr(10) ||
                            'para dup' || chr(10) || chr(10) ||
                            'para dup'
                        WHEN doc_id % 5 = 0 THEN text ||
                            ' r1 r2 r3 r4 r5 r1 r2 r3 r4 r5'
                        ELSE text END AS text
            FROM documents),
        b AS (
            SELECT doc_id, w, l,
                   CAST(len(w) AS BIGINT) AS nw,
                   CAST(len(l) AS BIGINT) AS nl,
                   CAST(coalesce(list_sum(
                       list_transform(w, x -> length(x))), 0)
                       AS BIGINT) AS twc,
                   CAST(coalesce(list_sum(
                       list_transform(l, x -> length(x))), 0)
                       AS BIGINT) AS tlc,
                   CAST(len(list_distinct(l)) AS BIGINT) AS ndl,
                   CAST(len(p) AS BIGINT) AS np,
                   CAST(coalesce(list_sum(
                       list_transform(p, x -> length(x))), 0)
                       AS BIGINT) AS tpc,
                   CAST(len(list_distinct(p)) AS BIGINT) AS ndp
            FROM (SELECT doc_id,
                    list_filter(string_split_regex(text, '[ \n]'),
                                x -> x <> '') AS w,
                    string_split(text, chr(10)) AS l,
                    string_split(text, chr(10) || chr(10)) AS p
                  FROM g0)),
        dl AS (
            SELECT doc_id,
                   CAST(coalesce(list_sum(list_transform(
                       list_distinct(l),
                       x -> (len(list_filter(l, y -> y = x)) - 1)
                            * length(x))), 0) AS BIGINT) AS dlc,
                   CAST(coalesce(list_sum(list_transform(
                       list_distinct(p),
                       x -> (len(list_filter(p, y -> y = x)) - 1)
                            * length(x))), 0) AS BIGINT) AS dpc
            FROM (SELECT b.*, s2.l AS l, s2.p AS p
                  FROM b JOIN (SELECT doc_id,
                          string_split(text, chr(10)) AS l,
                          string_split(text, chr(10) || chr(10)) AS p
                        FROM g0) s2 USING (doc_id))),
        {_REP_TOP_CTES},
        {_REP_DUP_CTES}
        SELECT b.doc_id,
               nw AS n_words,
               nl AS n_lines,
               CAST(10000 * (nl - ndl) // greatest(nl, 1) AS BIGINT)
                   AS dup_line_bp,
               CAST(10000 * dlc // greatest(tlc, 1) AS BIGINT)
                   AS dup_line_char_bp,
               CAST(10000 * (np - ndp) // greatest(np, 1) AS BIGINT)
                   AS dup_para_bp,
               CAST(10000 * dpc // greatest(tpc, 1) AS BIGINT)
                   AS dup_para_char_bp,
               {_REP_BP},
               ({_REP_PASS}) AS passes
        FROM b JOIN dl USING (doc_id) {_REP_JOINS}""",
   lambda spark, sf: GO.massivetext_repetition(
       _raw_docs(spark, sf).select("doc_id", _rep_text())))
