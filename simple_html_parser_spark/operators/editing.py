"""Scripted DOM-edit pipeline over the corpus — puts the manipulation
(M1-M8) and attribute-write (A2-A4) operator families under the
driver's byte-level oracle.

``EDIT_STEPS`` is a fixed edit script executed per document through
the SAME selector-driven machinery the differential goldens use
(kernel/manipulate.run_mutation, step-for-step mirrored by
tools/ref_dump.mjs against the reference — reference entry points:
node.js setAttribute/updateAttribute/removeAttribute,
createNode/appendChild/insertBefore/insertAfter/insertAdjacentHTML/
replaceWith/remove).  On the fixed main template the edited page
serializes to a CLOSED-FORM template of (doc_id, text, lang, source),
so DuckDB can verify the whole parse→query→mutate→serialize pipeline
per url without executing any of it.
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
from pyspark.sql import DataFrame

from ..kernel.manipulate import run_mutation
from .extraction import _describe, _DocStage, _parse, _row

# One step per op family; order chosen so moves happen before removes.
# A2 set / A4 update / A3 remove attribute; M6 replaceWith (new node =
# M1 create); M1+M2 create+append; M3 insertBefore (move); M4
# insertAfter (move); M5 insertAdjacentHTML; M7 remove (M8 extract is
# exercised internally by every move).
EDIT_STEPS: tuple[dict, ...] = (
    {"act": "set_attr", "sel": ".main", "index": 0,
     "name": "data-k", "value": "v1"},
    {"act": "update_attr", "sel": "nav", "index": 0,
     "name": "class", "value": "topx"},
    {"act": "remove_attr", "sel": "a", "index": 2, "name": "href"},
    {"act": "replace_with_new", "sel": "title", "index": 0,
     "tag": "span", "text": "T"},
    {"act": "create_append", "sel": "main", "index": 0,
     "tag": "p", "attrs": {"class": "x"}, "text": "tail"},
    {"act": "insert_before_sel", "sel": "p", "index": 0,
     "node_sel": "h1", "node_index": 0},
    {"act": "insert_after_sel", "sel": "main", "index": 0,
     "node_sel": "aside", "node_index": 0},
    {"act": "iah", "sel": "main", "index": 0,
     "position": "afterend", "html": "<em>z</em>"},
    {"act": "remove", "sel": "footer", "index": 0},
)

EDIT_SCHEMA = pa.schema([
    ("url", pa.string()), ("ed_len", pa.int64()),
    ("ed_sha256", pa.string()), ("error", pa.string()),
])


def _edit_doc(url, raw):
    out = run_mutation(_parse(raw), list(EDIT_STEPS))["html"].encode("utf-8")
    return _row(url, len(out), hashlib.sha256(out).hexdigest(), None)


_edit_fn = _DocStage(EDIT_SCHEMA, _edit_doc,
                     lambda url, raw, e: _row(url, 0, None, _describe(e)))


def edit_roundtrip(df: DataFrame) -> DataFrame:
    """documents(url, html) → (url, ed_len, ed_sha256): sha256+length
    of to_html after applying EDIT_STEPS."""
    return _edit_fn.apply(df)
