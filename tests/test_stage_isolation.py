"""Per-document isolation of every per-document Arrow stage, without
Spark: when a kernel call raises partway through one document, that
document yields exactly its stage's error rows (none of its partial
rows), every other document's rows are unchanged, and no exception
escapes the per-partition function."""

from __future__ import annotations

import struct
import sys
import zlib
from pathlib import Path

import pyarrow as pa
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from simple_html_parser_spark.kernel import (  # noqa: E402
    cssquery, serialize,
)
from simple_html_parser_spark.kernel.extract import PARITY  # noqa: E402
from simple_html_parser_spark.kernel.tree import FlatTree  # noqa: E402
from simple_html_parser_spark.operators import charset as CS  # noqa: E402
from simple_html_parser_spark.operators import editing as ED  # noqa: E402
from simple_html_parser_spark.operators import extraction as EX  # noqa: E402
from simple_html_parser_spark.operators import multimodal as MM  # noqa: E402
from simple_html_parser_spark.operators import pdftext as PDF  # noqa: E402
from simple_html_parser_spark.operators import queryapi as QA  # noqa: E402
from simple_html_parser_spark.operators import warc as WA  # noqa: E402
from simple_html_parser_spark.sources.documents import (  # noqa: E402
    HTML_TEMPLATE, TPL_CSSY, TPL_VOIDS,
)

MARK = "MARKED"
BOOM = "RuntimeError: boom"


def _page(tpl: str, doc_id: int, text: str) -> bytes:
    return (tpl.replace("%1$s", str(doc_id)).replace("%2$s", text)
            .replace("%3$s", "en").replace("%4$s", "src1")
            .encode("utf-8"))


def _marked(arg) -> bool:
    if isinstance(arg, str):
        return MARK in arg
    if isinstance(arg, (bytes, bytearray)):
        return MARK.encode() in arg
    if isinstance(arg, FlatTree):
        return any(MARK in c for c in arg.content if c)
    return False


def _raise_on_call(orig, nth: int):
    """``orig``, raising on its ``nth`` call for the marked document."""
    calls = []

    def fn(*args, **kw):
        if any(_marked(a) for a in args):
            calls.append(1)
            if len(calls) >= nth:
                raise RuntimeError("boom")
        return orig(*args, **kw)
    return fn


def _raise_after_first(orig):
    """Generator ``orig``, raising after the marked document's first
    row."""
    def fn(*args):
        for i, row in enumerate(orig(*args)):
            if i == 1 and any(_marked(a) for a in args):
                raise RuntimeError("boom")
            yield row
    return fn


def _warc_file(pages: list[bytes]) -> bytes:
    return b"".join(
        b"WARC/1.0\r\nWARC-Target-URI: doc://w/%d\r\n"
        b"WARC-Date: 2025-01-01T00:00:00Z\r\nContent-Length: %d\r\n\r\n"
        % (i, len(p)) + p + b"\r\n\r\n"
        for i, p in enumerate(pages))


def _png(page: bytes) -> bytes:
    """A PNG signature and IHDR chunk (width = the page's length),
    followed by the page."""
    ihdr = struct.pack(">II5B", len(page), 7, 8, 2, 0, 0, 0)
    return (MM.PNG_SIG + struct.pack(">I", 13) + b"IHDR" + ihdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr)) + page)


def _wav(page: bytes) -> bytes:
    """A mono 8 kHz 16-bit PCM WAV whose data chunk is the page."""
    body = (b"WAVE" + b"fmt " + struct.pack("<I", 16)
            + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
            + b"data" + struct.pack("<I", len(page)) + page
            + b"\0" * (len(page) & 1))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _pdf(page: bytes) -> bytes:
    """A two-page PDF (no xref: the object-scan path) whose pages both
    show the page as one literal string."""
    lit = (page.replace(b"\\", b"\\\\").replace(b"(", b"\\(")
           .replace(b")", b"\\)"))
    c = b"BT 0 0 Td (" + lit + b") Tj ET\n"
    return (b"%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>"
            b"\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Contents 5 0 R >>\nendobj\n"
            b"4 0 obj\n<< /Type /Page /Contents 5 0 R >>\nendobj\n"
            + b"5 0 obj\n<< /Length %d >>\nstream\n" % len(c) + c
            + b"\nendstream\nendobj\n%%EOF")


def _docs(tpl: str, key="url", payload="html", wrap=lambda p: p):
    keys = ["doc://a/1", "doc://a/2", "doc://m/3"]
    raws = [wrap(_page(tpl, i, text))
            for i, text in ((1, "alpha"), (2, "beta"), (3, MARK))]
    return pa.record_batch([pa.array(keys), pa.array(raws, pa.binary())],
                           names=[key, payload])


def _nodes_error():
    return dict(EX._ERROR_ROW, url="doc://m/3", content=BOOM)


def _marked_size(b: pa.RecordBatch) -> int:
    return len(b.column("payload")[2].as_py())


def _image_stub(n: int) -> dict:
    return {"url": "doc://m/3", "n_bytes": n, "width": n % 640 + 1,
            "height": n % 480 + 1, "channels": 3, "decoded": False,
            "note": "stub-decoder: deterministic fake dims"}


def _audio_stub(n: int) -> dict:
    rate = 16000 + (n % 3) * 8000
    return {"url": "doc://m/3", "n_bytes": n, "sample_rate": rate,
            "channels": 1, "n_samples": n * 4,
            "duration_ms": n * 4 * 1000 // rate, "decoded": False,
            "note": "stub-decoder: deterministic fake audio meta"}


# stage → (per-partition function, input batch, (owner, attribute,
# wrapper) of the kernel call that raises, expected error rows of the
# marked document)
STAGES = {
    "extract_documents": (
        lambda: EX._make_extract_fn(PARITY), lambda: _docs(HTML_TEMPLATE),
        (EX, "extract_html", lambda f: _raise_on_call(f, 1)),
        lambda b: [{"url": "doc://m/3", "extracted_text": "", "spans": [],
                    "n_nodes": 0, "n_text_nodes": 0,
                    "n_bytes": len(b.column("html")[2].as_py()),
                    "error": BOOM}]),
    "roundtrip_html": (
        lambda: EX._roundtrip_fn, lambda: _docs(HTML_TEMPLATE),
        (serialize, "to_html", lambda f: _raise_on_call(f, 1)),
        lambda b: [{"url": "doc://m/3", "rt_len": 0, "rt_sha256": None,
                    "error": BOOM}]),
    "parse_nodes": (
        lambda: EX._make_nodes_fn(EX.MAX_NODES_PER_DOC),
        lambda: _docs(HTML_TEMPLATE),
        (FlatTree, "bfs_order", lambda f: _raise_on_call(f, 1)),
        lambda b: [_nodes_error()]),
    "kernel_query_api": (
        lambda: QA._query_fn, lambda: _docs(HTML_TEMPLATE),
        (QA, "_run_query_op", lambda f: _raise_on_call(f, 3)),
        lambda b: [{"url": "doc://m/3", "op": "error", "arg": BOOM,
                    "ids": ""}]),
    "iterator_api": (
        lambda: QA._iter_fn, lambda: _docs(TPL_VOIDS),
        (QA, "_run_iter_op", lambda f: _raise_on_call(f, 3)),
        lambda b: [{"url": "doc://m/3", "op": "error", "ids": BOOM}]),
    "css_query_api": (
        lambda: QA._cssq_fn, lambda: _docs(TPL_CSSY),
        (cssquery, "css_find_variables", lambda f: _raise_on_call(f, 1)),
        lambda b: [{"url": "doc://m/3", "kind": "error",
                    "name": "RuntimeError", "value": "boom"}]),
    "serialize_api": (
        lambda: QA._ser_fn, lambda: _docs(HTML_TEMPLATE),
        (serialize, "outer_html", lambda f: _raise_on_call(f, 1)),
        lambda b: [{"url": "doc://m/3", "kind": "error", "out": BOOM}]),
    "css_serialize_api": (
        lambda: QA._css_ser_fn, lambda: _docs(TPL_CSSY),
        (serialize, "css_to_string", lambda f: _raise_on_call(f, 3)),
        lambda b: [{"url": "doc://m/3", "combo": "error", "out": BOOM}]),
    "visualize_api": (
        lambda: QA._viz_fn, lambda: _docs(HTML_TEMPLATE),
        (serialize, "visualize", lambda f: _raise_on_call(f, 1)),
        lambda b: [{"url": "doc://m/3", "viz": f"ERROR {BOOM}"}]),
    "edit_roundtrip": (
        lambda: ED._edit_fn, lambda: _docs(HTML_TEMPLATE),
        (ED, "run_mutation", lambda f: _raise_on_call(f, 1)),
        lambda b: [{"url": "doc://m/3", "ed_len": 0, "ed_sha256": None,
                    "error": BOOM}]),
    "detect_charset": (
        lambda: CS._detect_fn,
        lambda: _docs(HTML_TEMPLATE, payload="payload"),
        (CS, "decode_html", lambda f: _raise_on_call(f, 1)),
        lambda b: [{"url": "doc://m/3", "encoding": "error:RuntimeError",
                    "enc_source": "error", "n_chars": 0}]),
    "parse_warc": (
        lambda: WA._parse_fn,
        lambda: _docs(HTML_TEMPLATE, key="warc_id", payload="payload",
                      wrap=lambda p: _warc_file([p, p])),
        (WA, "_records", _raise_after_first),
        lambda b: [{"warc_id": "doc://m/3", "rec_idx": 0,
                    "target_uri": None, "warc_date": None,
                    "content_length": None, "html": None,
                    "error": BOOM}]),
    "extract_image_features": (
        lambda: MM._make_image_fn("payload"),
        lambda: _docs(HTML_TEMPLATE, payload="payload", wrap=_png),
        (MM, "decode_image", lambda f: _raise_on_call(f, 1)),
        lambda b: [_image_stub(_marked_size(b))]),
    "extract_audio_features": (
        lambda: MM._make_audio_fn("payload"),
        lambda: _docs(HTML_TEMPLATE, payload="payload", wrap=_wav),
        (MM, "decode_audio", lambda f: _raise_on_call(f, 1)),
        lambda b: [_audio_stub(_marked_size(b))]),
    # the marked PDF's second page raises: its first page's row must
    # not survive
    "extract_pdf_text": (
        lambda: PDF._make_pdf_fn(),
        lambda: _docs(HTML_TEMPLATE, payload="payload", wrap=_pdf),
        (PDF, "_page_content", lambda f: _raise_on_call(f, 2)),
        lambda b: [{"url": "doc://m/3", "page": 0, "n_lines": 0,
                    "n_chars": 0, "text": "", "decoded": False,
                    "note": "stub-decoder: not a parseable pdf"}]),
}


def _rows_by_key(fn, batch: pa.RecordBatch) -> dict[str, list[dict]]:
    out = pa.Table.from_batches(list(fn(iter([batch]))))
    key = out.column_names[0]
    by: dict[str, list[dict]] = {}
    for r in out.to_pylist():
        r.pop("parse_ms", None)
        by.setdefault(r[key], []).append(r)
    return by


@pytest.mark.parametrize("stage", sorted(STAGES))
def test_failing_document_yields_only_error_rows(stage, monkeypatch):
    make_fn, make_batch, (owner, attr, wrap), expected = STAGES[stage]
    batch = make_batch()
    clean = _rows_by_key(make_fn(), batch)
    assert len(clean) == 3 and all(clean.values())

    monkeypatch.setattr(owner, attr, wrap(getattr(owner, attr)))
    got = _rows_by_key(make_fn(), batch)  # no exception escapes

    assert got["doc://m/3"] == expected(batch)
    for key in ("doc://a/1", "doc://a/2"):
        assert got[key] == clean[key]


def test_flush_per_input_batch_and_at_payload_cap(monkeypatch):
    """Output is flushed at the end of every input batch, and earlier
    once a batch's payload bytes reach EXTRACT_FLUSH_BYTES; the
    concatenated table does not depend on where the flushes fall."""
    fn = EX._make_nodes_fn(EX.MAX_NODES_PER_DOC, columns=["url", "type"])
    batch = _docs(HTML_TEMPLATE)
    whole = list(fn(iter([batch, batch])))
    assert len(whole) == 2

    monkeypatch.setattr(EX, "EXTRACT_FLUSH_BYTES", 1)
    capped = list(fn(iter([batch, batch])))
    assert len(capped) == 6  # one flush per document
    assert pa.Table.from_batches(capped).equals(pa.Table.from_batches(whole))


def test_header_field_past_int32_takes_the_stub_row():
    """A PNG width or WAV sample rate past 2^31-1 does not fit its
    int32 column: that payload gets the stub row, and the batch's other
    payloads still decode."""
    png = bytearray(_png(b"x"))
    png[16:20] = b"\xff\xff\xff\xff"
    wav = bytearray(_wav(b"xx"))
    wav[24:28] = struct.pack("<I", 2**31)
    for make_fn, wrap, bad in ((MM._make_image_fn, _png, png),
                               (MM._make_audio_fn, _wav, wav)):
        batch = pa.record_batch(
            [pa.array(["bad", "ok"]), pa.array([bytes(bad), wrap(b"ok")])],
            names=["url", "html"])
        out = pa.Table.from_batches(list(make_fn()(iter([batch]))))
        assert out.column("decoded").to_pylist() == [False, True]
