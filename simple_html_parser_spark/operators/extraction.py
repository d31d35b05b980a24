"""Spark extraction pipeline — the engine's flagship operator.

Design (SURVEY.md §3.4, §4.3):

    scan (url, html only — column pruning reaches the parquet reader)
      → salted repartition on url hash (defuses giant-page skew)
      → ONE mapInArrow stage (one streaming tokenize+extract pass per
        page, no tree built), the only JVM↔Python boundary on the hot
        path; no per-row Python UDFs
      → columnar output batches, byte-capped

Every Python stage of the engine is a ``_DocStage``: a per-document
function over (key, payload) plus an error-row function, behind one
batch loop.  The 15 stages:

- here: ``extract_documents``, ``roundtrip_html``, ``parse_nodes``;
- operators/queryapi: ``kernel_query_api``, ``iterator_api``,
  ``css_query_api``, ``serialize_api``, ``css_serialize_api``,
  ``visualize_api``;
- operators/editing: ``edit_roundtrip``;
- operators/charset: ``detect_charset``;
- operators/warc: ``parse_warc``;
- operators/multimodal: ``extract_image_features``,
  ``extract_audio_features``;
- operators/pdftext: ``extract_pdf_text``.

Scale notes:
- Isolation: a document's rows are committed only if the whole
  document succeeded; if anything raises, its partial rows are dropped
  and only the stage's error rows are emitted, never a failed task (at
  10^12 docs, tail pages WILL be pathological).  The kernel is
  iterative except CSS serialization, so RecursionError is caught the
  same way.
- Flush: output is emitted at the end of each input batch (bounded by
  spark.sql.execution.arrow.maxRecordsPerBatch), and earlier once the
  batch's payload bytes pass EXTRACT_FLUSH_BYTES, so one batch of
  giant pages cannot balloon executor memory.
- Per task: PySpark's worker calls ``importlib.invalidate_caches()``
  before every task, which re-reads the directory of every zip archive
  on the worker's path (Spark's zip, py4j's, the spark-core jar,
  ``--py-files`` zips).  The first task a worker runs turns
  ``zipimporter.invalidate_caches`` into a no-op for that process.
  This is safe because none of those archives is rewritten in place
  while the worker lives, a zip added later with ``addPyFile`` lands
  at a new path and gets a new zipimporter (which reads its directory
  when created), and directory finders are still invalidated, so
  ``.py`` files added to the SparkFiles dir still import.
"""

from __future__ import annotations

import time
import zipimport
from collections.abc import Callable, Iterable, Iterator, Sequence

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..kernel.charset import decode_html
from ..kernel.extract import PARITY, ExtractionProfile, extract_html
from ..kernel.tokenizer import DEFAULT_SPECIAL_TAGS, parse_html

# Flush output batches once an input batch's payload exceeds this many
# bytes.
EXTRACT_FLUSH_BYTES = 32 * 1024 * 1024

# per-document node-count safety valve (10^12-doc tails contain
# pathological pages; a capped doc becomes an error row, not an OOM)
MAX_NODES_PER_DOC = 5_000_000


def _decode(b) -> str:
    if isinstance(b, (bytes, bytearray, memoryview)):
        return bytes(b).decode("utf-8", "replace")
    return b if isinstance(b, str) else ""


def _decode_sniffed(b, _decode_html=decode_html) -> str:
    """Charset-aware decode (kernel/charset): BOM → meta prescan →
    strict-utf-8 probe → cp1252 fallback.  The opt-in byte path for
    crawls that are not all-UTF-8; the default stays the plain utf-8
    decode so the parity corpus's byte counts/oracles are untouched.
    decode_html is bound at def time — no per-row module lookup in
    the mapInArrow hot loop."""
    if isinstance(b, (bytes, bytearray, memoryview)):
        return _decode_html(bytes(b))[0]
    return b if isinstance(b, str) else ""


def _parse(raw):
    """Payload → FlatTree under the per-document node cap."""
    return parse_html(_decode(raw), max_nodes=MAX_NODES_PER_DOC)


def _describe(e: Exception) -> str:
    return f"{type(e).__name__}: {e}"


def _keep_zip_directory(self) -> None:
    """``zipimporter.invalidate_caches`` inside a Spark worker: the
    archive's directory, read when the importer was created, stays."""


def _stop_zip_rereads() -> None:
    """Inside a Spark task, stop this worker process from re-reading
    its zip archives' directories before every later task (see the
    module's scale notes); outside a task, do nothing."""
    if (zipimport.zipimporter.invalidate_caches is not _keep_zip_directory
            and TaskContext.get() is not None):
        zipimport.zipimporter.invalidate_caches = _keep_zip_directory


def _row(*values) -> Iterator[tuple]:
    """One output row in the column shape a ``_DocStage`` function
    returns (each value as a one-element column)."""
    return zip(values)


class _DocStage:
    """One per-document mapInArrow stage.

    ``doc(key, payload)`` returns one sequence per ``schema`` column
    (row-shaped stages return ``zip(*rows)``); ``error(key, payload,
    exc)`` returns the stage's error rows in the same shape.  The
    instance is the per-partition function; ``apply`` prunes a frame to
    (key, payload) and runs it, with the Spark schema derived from
    ``schema``.  Isolation and flush follow the module's scale notes.
    """

    def __init__(self, schema: pa.Schema,
                 doc: Callable[..., Iterable[Sequence]],
                 error: Callable[..., Iterable[Sequence]],
                 key: str = "url", payload: str = "html") -> None:
        self.schema, self.doc, self.error = schema, doc, error
        self.key, self.payload = key, payload

    def __call__(
            self, batches: Iterator[pa.RecordBatch]
    ) -> Iterator[pa.RecordBatch]:
        _stop_zip_rereads()
        doc, error = self.doc, self.error
        cols: list[list] = [[] for _ in self.schema]
        for batch in batches:
            n_bytes = 0
            for key, raw in zip(batch.column(self.key).to_pylist(),
                                batch.column(self.payload).to_pylist()):
                n_rows = len(cols[0])
                try:
                    for col, part in zip(cols, doc(key, raw)):
                        col.extend(part)
                except Exception as e:  # noqa: BLE001 — per-doc isolation
                    for col in cols:
                        del col[n_rows:]
                    for col, part in zip(cols, error(key, raw, e)):
                        col.extend(part)
                n_bytes += len(raw) if raw is not None else 0
                if n_bytes >= EXTRACT_FLUSH_BYTES:
                    yield self._flush(cols)
                    n_bytes = 0
            if cols[0]:
                yield self._flush(cols)

    def _flush(self, cols: list[list]) -> pa.RecordBatch:
        out = pa.RecordBatch.from_pydict(
            dict(zip(self.schema.names, cols)), schema=self.schema)
        for col in cols:
            col.clear()
        return out

    def apply(self, df: DataFrame,
              salt_partitions: int | None = None) -> DataFrame:
        """Prune ``df`` to (key, payload) — so pruning reaches the scan
        — and run the stage.  ``salt_partitions`` forces an explicit
        pre-UDF exchange on the key so giant payloads spread across
        tasks instead of clustering in input-file order."""
        pruned = df.select(self.key, self.payload)
        if salt_partitions:
            pruned = pruned.repartition(salt_partitions,
                                        F.xxhash64(self.key))
        return pruned.mapInArrow(self, from_arrow_schema(self.schema))


EXTRACT_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("extracted_text", pa.string()),
    ("spans", pa.list_(pa.struct([("start", pa.int32()),
                                  ("end", pa.int32())]))),
    ("n_nodes", pa.int32()),
    ("n_text_nodes", pa.int32()),
    ("n_bytes", pa.int64()),
    ("parse_ms", pa.float64()),
    ("error", pa.string()),
])


def _make_extract_fn(profile: ExtractionProfile,
                     sniff_charset: bool = False) -> _DocStage:
    decode = _decode_sniffed if sniff_charset else _decode
    t0 = 0.0

    def doc(url, raw):
        nonlocal t0
        html = decode(raw)
        t0 = time.perf_counter()
        res = extract_html(html, profile, MAX_NODES_PER_DOC)
        # res.spans is already a list of (start, end) tuples, which
        # pyarrow builds struct arrays from directly
        return _row(url, res.text, res.spans, res.n_nodes,
                    res.n_text_nodes, len(raw) if raw is not None else 0,
                    (time.perf_counter() - t0) * 1e3, None)

    def error(url, raw, e):
        # both decoders use errors='replace' and cannot raise, so t0
        # was set for this document
        return _row(url, "", [], 0, 0, len(raw) if raw is not None else 0,
                    (time.perf_counter() - t0) * 1e3, _describe(e))

    return _DocStage(EXTRACT_SCHEMA, doc, error)


def extract_documents(
    df: DataFrame,
    profile: ExtractionProfile = PARITY,
    salt_partitions: int | None = None,
    sniff_charset: bool = False,
) -> DataFrame:
    """documents(url, html, ...) → extracted(url, extracted_text, spans,
    stats).  Column pruning to (url, html) happens here so it reaches
    the scan; ``salt_partitions`` forces an explicit pre-UDF exchange on
    the (unique) url so giant pages spread across tasks instead of
    clustering in input-file order.  ``sniff_charset`` switches the
    byte→string step from plain utf-8 to the BOM/meta-prescan sniffer
    (kernel/charset) — the path for real crawls, where UTF-16 exports
    and meta-labelled 8-bit pages exist."""
    return _make_extract_fn(profile, sniff_charset=sniff_charset).apply(
        df, salt_partitions)


# ---- serialization round-trip ------------------------------------------------

ROUNDTRIP_SCHEMA = pa.schema([
    ("url", pa.string()), ("rt_len", pa.int64()),
    ("rt_sha256", pa.string()), ("error", pa.string()),
])


def _roundtrip_doc(url, raw):
    import hashlib

    from ..kernel.serialize import to_html
    out = to_html(_parse(raw)).encode("utf-8")
    return _row(url, len(out), hashlib.sha256(out).hexdigest(), None)


_roundtrip_fn = _DocStage(
    ROUNDTRIP_SCHEMA, _roundtrip_doc,
    lambda url, raw, e: _row(url, 0, None, _describe(e)))


def roundtrip_html(df: DataFrame) -> DataFrame:
    """documents(url, html) → (url, rt_len, rt_sha256): length and
    sha256 of serialize.to_html(parse_html(html)) — pins S1/S5/C12-C15
    under a byte-level oracle (the reference guarantees byte round-trip
    for the quoted-attribute subset, reference test/parser.test.js
    round-trip cases; for jhp pages the serialized form is itself a
    fixed template, see sources.documents.TPL_SPECIAL_SERIALIZED)."""
    return _roundtrip_fn.apply(df)


# ---- exploded nodes view ----------------------------------------------------

NODES_SCHEMA = pa.schema([
    ("url", pa.string()), ("node_id", pa.int32()),
    ("parent_id", pa.int32()), ("subtree_end", pa.int32()),
    ("bfs_rank", pa.int32()), ("depth", pa.int32()),
    ("type", pa.string()), ("name", pa.string()),
    ("attrs", pa.map_(pa.string(), pa.string())),
    ("content", pa.string()), ("comment_type", pa.string()),
    ("style_block", pa.bool_()), ("script_block", pa.bool_()),
    ("css_selector", pa.string()), ("css_name", pa.string()),
    ("css_params", pa.string()),
    ("css_declarations", pa.map_(pa.string(), pa.string())),
    ("src_start", pa.int32()), ("src_end", pa.int32()),
])


# error-marker row values per column (type='error', content=message;
# NEVER drop a document silently: at 10^12 docs a pathological page
# must leave a trace)
_ERROR_ROW = {
    "node_id": 0, "parent_id": -1, "subtree_end": 0, "bfs_rank": 0,
    "depth": 0, "type": "error", "name": None, "attrs": None,
    "comment_type": None, "style_block": False, "script_block": False,
    "css_selector": None, "css_name": None, "css_params": None,
    "css_declarations": None, "src_start": 0, "src_end": 0,
}


def _sparse_list(sc, n: int) -> list:
    """SparseColumn → dense list (None-filled) without n dict probes."""
    out = [None] * n
    for k, v in sc.d.items():
        out[k] = v
    return out


def _bfs_rank(t, n: int) -> list[int]:
    rank = [0] * n
    for r, nid in enumerate(t.bfs_order(0)):
        rank[nid] = r
    return rank


def _depth(t, n: int) -> list[int]:
    depth = [0] * n
    parent = t.parent
    for nid in range(1, n):
        depth[nid] = depth[parent[nid]] + 1
    return depth


def _items(maps) -> Iterator:
    return (list(m.items()) if m is not None else None for m in maps)


# COLUMNAR emission: the FlatTree already is struct-of-arrays, so each
# requested column is one C-level list extend (or a single
# comprehension) instead of 19 per-node appends — and unrequested
# columns (incl. the per-doc BFS/depth Python passes) are never
# computed.  Measured r6: full emission 0.46s CPU for 200k nodes
# row-at-a-time vs per-column extends.  Each entry maps
# (tree, node count, url) to that column's values for one document.
_NODE_COLUMNS = {
    "url": lambda t, n, url: [url] * n,
    "node_id": lambda t, n, url: range(n),
    "parent_id": lambda t, n, url: t.parent,
    "subtree_end": lambda t, n, url: t.subtree_end(),
    "bfs_rank": lambda t, n, url: _bfs_rank(t, n),
    "depth": lambda t, n, url: _depth(t, n),
    "type": lambda t, n, url: t.type,
    "name": lambda t, n, url: t.name,
    "attrs": lambda t, n, url: _items(t.attrs),
    "content": lambda t, n, url: t.content,
    "comment_type": lambda t, n, url: _sparse_list(t.comment_type, n),
    "style_block": lambda t, n, url: ((f & 1) != 0 for f in t.flags),
    "script_block": lambda t, n, url: ((f & 2) != 0 for f in t.flags),
    "css_selector": lambda t, n, url: _sparse_list(t.css_selector, n),
    "css_name": lambda t, n, url: _sparse_list(t.css_name, n),
    "css_params": lambda t, n, url: _sparse_list(t.css_params, n),
    "css_declarations": lambda t, n, url: _items(
        _sparse_list(t.css_decls, n)),
    "src_start": lambda t, n, url: t.src_start,
    "src_end": lambda t, n, url: t.src_end,
}


def _make_nodes_fn(max_nodes: int,
                   special_tags: tuple[str, ...] | None = None,
                   columns: list[str] | None = None) -> _DocStage:
    special = (tuple(special_tags) if special_tags is not None
               else DEFAULT_SPECIAL_TAGS)
    names = NODES_SCHEMA.names if columns is None else list(columns)
    unknown = [c for c in names if c not in _NODE_COLUMNS]
    if unknown:
        raise ValueError(f"unknown node columns: {unknown}")
    emit = [_NODE_COLUMNS[c] for c in names]

    def doc(url, raw):
        t = parse_html(_decode(raw), special, max_nodes=max_nodes)
        n = len(t.type)
        return [f(t, n, url) for f in emit]

    def error(url, raw, e):
        return [[url] if c == "url" else [_describe(e)] if c == "content"
                else [_ERROR_ROW[c]] for c in names]

    return _DocStage(pa.schema([NODES_SCHEMA.field(c) for c in names]),
                     doc, error)


def parse_nodes(df: DataFrame, salt_partitions: int | None = None,
                max_nodes: int = MAX_NODES_PER_DOC,
                special_tags: tuple[str, ...] | None = None,
                columns: list[str] | None = None) -> DataFrame:
    """documents(url, html) → one row per SOM node (FIXTURES.md §3) —
    the SQL-queryable tree view used for oracle-checked operators.
    Unparseable / over-``max_nodes`` docs yield one type='error' marker
    row (silent data loss at 10^12 docs is not acceptable).
    ``special_tags`` is the reference constructor's only parameter
    (`/root/reference/src/simple-html-parser.js:37`) — tags whose
    content runs through the JS submachine instead of the tree
    builder; default ('jhp', 's_').

    ``columns`` prunes the EMITTED node view to the listed subset (in
    NODES_SCHEMA order recommended): Catalyst's column pruning cannot
    see into the Python stage, so an opaque mapInArrow otherwise
    builds and ships all 19 columns — including the per-document
    BFS-rank and depth passes — for a query that reads one of them
    (guide §4: pass only the columns the function needs; here the
    output side).  Values of the emitted columns are identical to the
    full view's."""
    return _make_nodes_fn(max_nodes, special_tags, columns).apply(
        df, salt_partitions)
