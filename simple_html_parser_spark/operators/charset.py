"""Charset detection over binary page payloads (kernel/charset).

The byte→string tier of the extraction pipeline: the reference parser
(`/root/reference/src/simple-html-parser.js:54`) consumes an
already-decoded JS string, so sniffing the on-wire encoding of a
crawled page is this engine's job.  One Arrow-batched stage, same
shape as the extraction hot path — no per-row Python anywhere.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame

from ..kernel.charset import decode_html
from .extraction import _DocStage, _row

DETECT_SCHEMA = pa.schema([
    ("url", pa.string()), ("encoding", pa.string()),
    ("enc_source", pa.string()), ("n_chars", pa.int64()),
])


def _detect_doc(url, raw):
    text, enc, src = decode_html(bytes(raw or b""))
    return _row(url, enc, src, len(text))


_detect_fn = _DocStage(
    DETECT_SCHEMA, _detect_doc,
    lambda url, raw, e: _row(url, f"error:{type(e).__name__}", "error", 0),
    payload="payload")


def detect_charset(df: DataFrame, col: str = "payload") -> DataFrame:
    """(url, payload binary) → (url, encoding, enc_source, n_chars):
    BOM / meta-prescan / default sniff plus the decoded length —
    n_chars proves the DECODE (not just the label) is right, since a
    UTF-16 page decoded as UTF-8 yields a very different length."""
    return _detect_fn.apply(df.selectExpr("url", f"{col} as payload"))
