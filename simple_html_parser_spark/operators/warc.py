"""WARC container parsing — Common Crawl's on-disk input format.

A crawl pipeline's first mile: WARC files in, per-record rows out.
``parse_warc`` is ONE Arrow-batched Python stage (mapInArrow) that
walks each file's bytes by Content-Length — never by scanning for the
record magic, which can legally appear inside a body — and emits one
row per record plus an ``error`` marker row for malformed tails
(per-file isolation: a truncated file yields its good prefix, never a
task failure).  ``warc_extract`` chains the records straight into the
existing extraction hot path, so WARC-in → extracted-text-out is two
Python stages with a column-pruned handoff.

Scale shape: the file is the parallelism unit (as in production,
where each .warc.gz member is seekable).  Record rows carry
the body as a ``binary`` column so downstream pruning drops it when
only metadata is needed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extraction import _describe, _DocStage, _row, extract_documents

_MAGIC = b"WARC/1.0\r\n"
_HDR_END = b"\r\n\r\n"

WARC_SCHEMA = pa.schema([
    ("warc_id", pa.string()), ("rec_idx", pa.int32()),
    ("target_uri", pa.string()), ("warc_date", pa.string()),
    ("content_length", pa.int64()), ("html", pa.binary()),
    ("error", pa.string()),
])


def _records(warc_id: str, payload: bytes) -> Iterator[tuple]:
    """One WARC_SCHEMA row per record, then an error row for a
    malformed tail."""
    def emit(idx, uri=None, date=None, clen=None, html=None, err=None):
        return warc_id, idx, uri, date, clen, html, err

    pos, idx = 0, 0
    n = len(payload)
    while pos < n:
        if not payload.startswith(_MAGIC, pos):
            yield emit(idx, err=f"bad magic at byte {pos}")
            return
        hdr_end = payload.find(_HDR_END, pos)
        if hdr_end < 0:
            yield emit(idx, err="unterminated header block")
            return
        # ISO 28500: field names are case-insensitive, whitespace after
        # the colon is optional — lowercase keys, lstrip values
        headers = {}
        for line in payload[pos + len(_MAGIC):hdr_end].split(b"\r\n"):
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower().decode("ascii", "replace")] = \
                    v.lstrip().decode("utf-8", "replace")
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            yield emit(idx, err="missing/invalid Content-Length")
            return
        if clen < 0:
            # a negative length would move pos BACKWARD and loop the
            # parser forever on the same record — adversarial input,
            # not a tolerable quirk
            yield emit(idx, err="negative Content-Length")
            return
        body_start = hdr_end + len(_HDR_END)
        if body_start + clen > n:
            yield emit(idx, err="truncated body")
            return
        yield emit(idx, headers.get("warc-target-uri"),
                   headers.get("warc-date"), clen,
                   payload[body_start:body_start + clen])
        idx += 1
        pos = body_start + clen
        if payload.startswith(b"\r\n\r\n", pos):
            pos += 4


# a file whose parse raises yields one error row (rec_idx 0) and none
# of its records
_parse_fn = _DocStage(
    WARC_SCHEMA,
    lambda wid, pay: zip(*_records(wid, pay or b"")),
    lambda wid, pay, e: _row(wid, 0, None, None, None, None, _describe(e)),
    key="warc_id", payload="payload")


def parse_warc(files: DataFrame) -> DataFrame:
    """(warc_id, payload binary, …) → one row per WARC record
    (warc_id, rec_idx, target_uri, warc_date, content_length, html,
    error)."""
    return _parse_fn.apply(files)


def warc_extract(files: DataFrame, **kw) -> DataFrame:
    """WARC files → extracted main content per record: parse, keep the
    well-formed records, feed (url, html) into the extraction hot
    path.  Two Python stages total; the record→extract handoff is
    pruned to (url, html)."""
    recs = (parse_warc(files)
            .where(F.col("error").isNull())
            .select(F.col("target_uri").alias("url"), "html"))
    return extract_documents(recs, **kw)
