"""PDF text + layout extraction over opaque ``binary`` columns.

The north rule names "PDF/layout parse" alongside the HTML boilerplate
strip as part of the main-content extraction pipeline.  This module is
a REAL pure-Python PDF parser (no pdfminer/PyPDF needed):

* cross-reference table walk (``startxref`` → ``xref`` subsections →
  ``trailer`` → ``/Root``), with a regex object-scan fallback when the
  xref is missing or corrupt (malformed-recovery, like the HTML side);
* page-tree traversal (``/Pages`` → ``/Kids``, nested tree nodes, each
  page's ``/Contents`` — single ref or array);
* content-stream decode: ``/FlateDecode`` via stdlib zlib, otherwise
  raw;
* a content-stream tokenizer covering the text-showing subset of the
  spec — ``BT/ET``, ``Td/TD/Tm/T*``, ``Tj``, ``'``, ``TJ`` (kerning
  numbers skipped), literal strings with the full escape set
  (``\\( \\) \\\\ \\n \\r \\t \\b \\f``, octal, line continuation),
  hex strings;
* LAYOUT ordering: shows are emitted in stream order but re-ordered by
  text position (y descending, then x) before joining into lines — so
  a stream that paints the footer first still extracts in reading
  order.  This is the text-density/layout seam: a production build
  extends the (y, x, text) tuples with font size for column detection;
  the Spark-side shape (one row per page) is final.

Spark shape mirrors operators/multimodal.py: one ``_DocStage``
(operators/extraction) with per-payload isolation (a corrupt PDF
yields one ``decoded=false`` row, never a failed task — at 10^12 docs
a poison payload must not kill the job).

The synthesized corpus (sources/documents.py::render_pdf) builds
structurally valid PDFs fully JVM-side whose page texts are
closed-form in doc_id, so the DuckDB driver-oracle verifies the actual
xref walk + stream decode + layout sort (pdf_text_extract query).
"""

from __future__ import annotations

import re
import zlib

import pyarrow as pa
from pyspark.sql import DataFrame

from .extraction import _DocStage, _row

PDF_TEXT_SCHEMA = pa.schema([
    ("url", pa.string()), ("page", pa.int32()), ("n_lines", pa.int32()),
    ("n_chars", pa.int32()), ("text", pa.string()),
    ("decoded", pa.bool_()), ("note", pa.string()),
])

_WS = b"\x00\t\n\x0c\r "
# string escape → replacement (octal and continuation handled inline)
_ESCAPES = {
    ord("n"): "\n", ord("r"): "\r", ord("t"): "\t",
    ord("b"): "\b", ord("f"): "\f",
    ord("("): "(", ord(")"): ")", ord("\\"): "\\",
}


def _read_literal_string(b: bytes, i: int) -> tuple[str, int]:
    """Parse a ``(...)`` literal string starting at the ``(``; returns
    (decoded text, index past the closing paren).  Handles nesting,
    the escape table, octal escapes, and backslash-EOL continuation."""
    assert b[i] == 0x28
    i += 1
    depth = 1
    out: list[str] = []
    n = len(b)
    while i < n:
        c = b[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = b[i]
            if e in _ESCAPES:
                out.append(_ESCAPES[e])
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                j = i
                while j < min(i + 3, n) and 0x30 <= b[j] <= 0x37:
                    j += 1
                out.append(chr(int(b[i:j], 8) & 0xFF))
                i = j
            elif e in (0x0D, 0x0A):  # line continuation
                i += 1
                if e == 0x0D and i < n and b[i] == 0x0A:
                    i += 1
            else:  # unknown escape: the backslash is dropped (spec)
                out.append(chr(e))
                i += 1
        elif c == 0x28:
            depth += 1
            out.append("(")
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return "".join(out), i + 1
            out.append(")")
            i += 1
        else:
            out.append(chr(c))
            i += 1
    return "".join(out), i


def _read_hex_string(b: bytes, i: int) -> tuple[str, int]:
    """Parse a ``<...>`` hex string starting at ``<``; odd final digit
    pads with 0 (spec 7.3.4.3)."""
    j = b.index(b">", i)
    digits = re.sub(rb"[^0-9A-Fa-f]", b"", b[i + 1:j])
    if len(digits) % 2:
        digits += b"0"
    return bytes.fromhex(digits.decode("ascii")).decode("latin-1"), j + 1


_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_OP_RE = re.compile(rb"[A-Za-z'\"*]+")


def _content_shows(data: bytes) -> list[tuple[float, float, int, str]]:
    """Tokenize a content stream; return text shows as
    (y, x, stream_seq, text) tuples."""
    shows: list[tuple[float, float, int, str]] = []
    stack: list = []
    x = y = 0.0
    leading = 0.0
    i, n, seq = 0, len(data), 0

    def _show(text: str) -> None:
        nonlocal seq
        if text:
            shows.append((y, x, seq, text))
            seq += 1

    while i < n:
        c = data[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # % comment to EOL
            j = data.find(b"\n", i)
            i = n if j < 0 else j + 1
        elif c == 0x28:  # literal string
            s, i = _read_literal_string(data, i)
            stack.append(s)
        elif c == 0x3C:  # hex string or dict
            if i + 1 < n and data[i + 1] == 0x3C:  # << dict — skip
                j = data.find(b">>", i + 2)
                i = n if j < 0 else j + 2
            else:
                s, i = _read_hex_string(data, i)
                stack.append(s)
        elif c in (0x5B, 0x5D):  # [ ] — arrays stay flat on the stack
            stack.append(chr(c))
            i += 1
        elif c == 0x2F:  # /name
            m = _NAME_RE.match(data, i)
            stack.append(("name", m.group(0).decode("latin-1")))
            i = m.end()
        else:
            m = _NUM_RE.match(data, i)
            if m:
                stack.append(float(m.group(0)))
                i = m.end()
                continue
            m = _OP_RE.match(data, i)
            if not m:
                i += 1
                continue
            op = m.group(0)
            i = m.end()
            if op == b"BT":
                x = y = 0.0
                stack.clear()
            elif op == b"Td" and len(stack) >= 2:
                x += float(stack[-2])
                y += float(stack[-1])
                stack.clear()
            elif op == b"TD" and len(stack) >= 2:
                leading = -float(stack[-1])
                x += float(stack[-2])
                y += float(stack[-1])
                stack.clear()
            elif op == b"Tm" and len(stack) >= 6:
                x, y = float(stack[-2]), float(stack[-1])
                stack.clear()
            elif op == b"TL" and stack:
                leading = float(stack[-1])
                stack.clear()
            elif op == b"T*":
                y -= leading
                stack.clear()
            elif op == b"Tj":
                _show(next((v for v in reversed(stack)
                            if isinstance(v, str) and v not in "[]"), ""))
                stack.clear()
            elif op == b"'":
                y -= leading
                _show(next((v for v in reversed(stack)
                            if isinstance(v, str) and v not in "[]"), ""))
                stack.clear()
            elif op == b"TJ":
                # concatenate the string elements of the topmost array;
                # numbers are kerning adjustments — skipped
                parts: list[str] = []
                for v in reversed(stack):
                    if v == "[":
                        break
                    if isinstance(v, str) and v not in "[]":
                        parts.append(v)
                _show("".join(reversed(parts)))
                stack.clear()
            else:  # any other operator consumes its operands
                stack.clear()
    return shows


def _layout_lines(shows: list[tuple[float, float, int, str]]) -> list[str]:
    """Reading order: y descending, then x, then stream order.  Each
    show is one line (the synthesized corpus paints one show per line;
    a production build would merge same-baseline shows)."""
    return [t for _, _, _, t in
            sorted(shows, key=lambda s: (-s[0], s[1], s[2]))]


_NAME_RE = re.compile(rb"/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")
_OBJ_HDR_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b")


def _ref(dict_bytes: bytes, key: bytes) -> int | None:
    m = re.search(key + rb"\s+(\d+)\s+\d+\s+R", dict_bytes)
    return int(m.group(1)) if m else None


def _xref_offsets(b: bytes) -> tuple[dict[int, int], int | None]:
    """Classic xref-table walk: startxref → subsections → trailer
    /Root.  Raises on anything unexpected (caller falls back to an
    object scan)."""
    m = re.search(rb"startxref\s+(\d+)\s*%%EOF", b[-256:])
    if not m:
        raise ValueError("no startxref")
    xo = int(m.group(1))
    if b[xo:xo + 4] != b"xref":
        raise ValueError("startxref does not point at an xref table")
    i = xo + 4
    offsets: dict[int, int] = {}
    sub_re = re.compile(rb"\s*(\d+)\s+(\d+)\s*?[\r\n]")
    while True:
        m = sub_re.match(b, i)
        if not m:
            break
        start, count = int(m.group(1)), int(m.group(2))
        i = m.end()
        for k in range(count):
            entry = b[i:i + 20]
            if len(entry) < 18:
                raise ValueError("truncated xref entry")
            off, _gen, kind = entry[:10], entry[11:16], entry[17:18]
            if kind == b"n":
                offsets[start + k] = int(off)
            i += 20
    t = b.find(b"trailer", i)
    if t < 0:
        raise ValueError("no trailer")
    root = _ref(b[t:t + 512], rb"/Root")
    return offsets, root


def _scan_offsets(b: bytes) -> dict[int, int]:
    """Fallback: locate every ``N g obj`` header by scan (recovers
    PDFs with a broken/absent xref, like incremental-save tails)."""
    return {int(m.group(1)): m.start() for m in _OBJ_HDR_RE.finditer(b)}


def _obj_body(b: bytes, offsets: dict[int, int], num: int) -> bytes:
    off = offsets[num]
    m = _OBJ_HDR_RE.match(b, off)
    if not m or int(m.group(1)) != num:
        raise ValueError(f"object {num} not at its xref offset")
    end = b.find(b"endobj", m.end())
    if end < 0:
        raise ValueError(f"object {num} unterminated")
    return b[m.end():end]


# inflation cap: a crawl-tail "flate bomb" (KBs compressing to GBs)
# must cost one fallback row, not a Python-worker OOM — per-payload
# try/except cannot catch a worker the kernel killed.
MAX_STREAM_BYTES = 64 * 1024 * 1024


def _stream_data(body: bytes) -> tuple[bytes, str]:
    """(decoded stream bytes, filter note) for a stream object body;
    /Length delimits the data, /FlateDecode inflates via zlib with the
    output capped at MAX_STREAM_BYTES."""
    s = body.find(b"stream")
    if s < 0:
        raise ValueError("not a stream object")
    head = body[:s]
    m = re.search(rb"/Length\s+(\d+)", head)
    if not m:
        raise ValueError("stream without /Length")
    length = int(m.group(1))
    i = s + len(b"stream")
    if body[i:i + 2] == b"\r\n":
        i += 2
    elif body[i:i + 1] in (b"\n", b"\r"):
        i += 1
    data = body[i:i + length]
    if re.search(rb"/Filter\s*/FlateDecode", head):
        d = zlib.decompressobj()
        out = d.decompress(data, MAX_STREAM_BYTES)
        if d.unconsumed_tail:
            raise ValueError("flate stream exceeds inflation cap")
        return out, "flate"
    return data, "none"


def _page_objects(b: bytes, offsets: dict[int, int],
                  root: int | None) -> list[int]:
    """Catalog → /Pages → depth-first /Kids walk (handles nested
    /Pages tree nodes) → page object numbers in document order."""
    if root is None:  # object-scan fallback: find the catalog
        for num in sorted(offsets):
            if re.search(rb"/Type\s*/Catalog", _obj_body(b, offsets, num)):
                root = num
                break
    if root is None:
        raise ValueError("no catalog")
    pages_root = _ref(_obj_body(b, offsets, root), rb"/Pages")
    if pages_root is None:
        raise ValueError("catalog without /Pages")
    # iterative DFS with a visited guard: a malicious /Kids cycle or a
    # million-deep page tree costs one error row, never a stack blowout
    # or an infinite loop (kernel invariant: all traversals iterative)
    out: list[int] = []
    stack = [pages_root]
    seen: set[int] = set()
    while stack:
        num = stack.pop()
        if num in seen:
            raise ValueError("cycle in /Kids page tree")
        seen.add(num)
        body = _obj_body(b, offsets, num)
        if re.search(rb"/Type\s*/Pages", body):
            m = re.search(rb"/Kids\s*\[([^\]]*)\]", body)
            if not m:
                raise ValueError("pages node without /Kids")
            kids = [int(km.group(1))
                    for km in re.finditer(rb"(\d+)\s+\d+\s+R", m.group(1))]
            stack.extend(reversed(kids))  # preserve document order
        else:
            out.append(num)
    return out


def _page_content(b: bytes, offsets: dict[int, int],
                  page_num: int) -> tuple[bytes, str]:
    """Concatenated decoded content streams of one page (/Contents may
    be a single ref or an array of refs)."""
    body = _obj_body(b, offsets, page_num)
    m = re.search(rb"/Contents\s*\[([^\]]*)\]", body)
    if m:
        refs = [int(km.group(1))
                for km in re.finditer(rb"(\d+)\s+\d+\s+R", m.group(1))]
    else:
        ref = _ref(body, rb"/Contents")
        if ref is None:
            return b"", "none"
        refs = [ref]
    datas, notes = [], []
    for r in refs:
        data, note = _stream_data(_obj_body(b, offsets, r))
        datas.append(data)
        notes.append(note)
    return b"\n".join(datas), "+".join(notes)


def parse_pdf_pages(b: bytes) -> list[tuple[int, str, str]]:
    """Full parse: (page_no starting at 1, extracted text in layout
    order, note) per page.  Raises on a non-PDF payload — callers
    (decode_pdf) isolate per payload."""
    if not b.startswith(b"%PDF-"):
        raise ValueError("missing %PDF header")
    via = "xref"
    try:
        offsets, root = _xref_offsets(b)
    except Exception:  # noqa: BLE001 — malformed-recovery path
        offsets, root = _scan_offsets(b), None
        via = "scan"
    out = []
    for idx, pnum in enumerate(_page_objects(b, offsets, root), start=1):
        data, filt = _page_content(b, offsets, pnum)
        text = "\n".join(_layout_lines(_content_shows(data)))
        out.append((idx, text, f"pdf-text via={via} filter={filt}"))
    return out


def decode_pdf(url, b):
    """One output row per page; raises on a non-PDF, corrupt or
    page-less payload, which the stage turns into a single
    ``decoded=false`` row (the production seam for a pdfium/poppler
    swap-in)."""
    pages = parse_pdf_pages(b)
    if not pages:
        raise ValueError("no pages")
    return zip(*((url, page_no, text.count("\n") + 1 if text else 0,
                  len(text), text, True, note)
                 for page_no, text, note in pages))


def _pdf_stub(url, b, e):
    return _row(url, 0, 0, 0, "", False, "stub-decoder: not a parseable pdf")


def _make_pdf_fn(col: str = "payload") -> _DocStage:
    return _DocStage(PDF_TEXT_SCHEMA, decode_pdf, _pdf_stub, payload=col)


def extract_pdf_text(df: DataFrame, col: str = "payload") -> DataFrame:
    """(url, ``col``) → one row per PAGE of each PDF payload, through
    one mapInArrow stage, no per-row UDFs — so a 10^12-doc corpus fans
    out rows instead of accreting giant per-doc strings."""
    return _make_pdf_fn(col).apply(df)
