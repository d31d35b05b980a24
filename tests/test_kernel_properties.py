"""Property-style kernel tests (no Node needed).

The round-trip guarantee holds only on the well-formed-quoted-attribute
subset (SURVEY.md §2.2: empty/unquoted attribute values and self-closing
slashes do NOT round-trip in the reference either), so the generator
stays inside that subset."""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from hypothesis import given, settings, strategies as st  # noqa: E402

from simple_html_parser_spark.kernel.extract import (  # noqa: E402
    MAIN_CONTENT, PARITY, extract, extract_html,
)
from simple_html_parser_spark.kernel.serialize import to_html  # noqa: E402
from simple_html_parser_spark.kernel.tokenizer import (  # noqa: E402
    VOID_ELEMS, parse_html,
)

TAGS = ["div", "p", "span", "section", "li", "em"]
ATTR_NAMES = ["id", "class", "data-x", "href"]
# quoted values without '"' or '<'
ATTR_VALUES = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters='"<>', categories=(
            "L", "N", "P", "S", "Z")),
    min_size=1, max_size=12)
TEXT_CONTENT = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters="<>&",
                           categories=("L", "N", "P", "Zs")),
    min_size=1, max_size=30)


@st.composite
def well_formed_html(draw, depth=0):
    n = draw(st.integers(0, 3 if depth < 3 else 0))
    parts = []
    for _ in range(n):
        kind = draw(st.integers(0, 2))
        if kind == 0:
            parts.append(draw(TEXT_CONTENT))
        elif kind == 1:
            tag = draw(st.sampled_from(TAGS))
            # distinct names: duplicates collapse (last wins) in the
            # reference too, so they're outside the round-trip subset
            names = draw(st.lists(st.sampled_from(ATTR_NAMES),
                                  unique=True, max_size=2))
            attrs = "".join(
                f' {name}="{draw(ATTR_VALUES)}"' for name in names)
            inner = draw(well_formed_html(depth=depth + 1))
            parts.append(f"<{tag}{attrs}>{inner}</{tag}>")
        else:
            parts.append(f"<!--{draw(TEXT_CONTENT)}-->")
    return "".join(parts)


@given(well_formed_html())
@settings(max_examples=200, deadline=None)
def test_roundtrip_well_formed(html):
    tree = parse_html(html)
    assert to_html(tree, 0, True) == html


@given(well_formed_html())
@settings(max_examples=100, deadline=None)
def test_spans_rebuild_text(html):
    tree = parse_html(html)
    for profile in (PARITY, MAIN_CONTENT):
        for res in (extract(tree, profile), extract_html(html, profile)):
            rebuilt = "".join(html[s:e] for s, e in res.spans)
            assert rebuilt == res.text


@given(st.text(max_size=200))
@settings(max_examples=300, deadline=None)
def test_never_crashes_on_arbitrary_input(s):
    tree = parse_html(s)
    to_html(tree, 0, True)
    extract(tree, PARITY)
    extract(tree, MAIN_CONTENT)
    extract_html(s, PARITY)
    extract_html(s, MAIN_CONTENT)


def test_tag_memo_no_attr_aliasing():
    """The open-tag memo hands every node a PRIVATE attrs dict:
    mutating one parse's attributes must never leak into the memo
    template or into a later parse of the same tag body."""
    from simple_html_parser_spark.kernel.selector import set_attribute
    from simple_html_parser_spark.kernel import tokenizer as TK

    html = '<div class="x" id="a"><p class="x">t</p></div>'
    TK._TAG_MEMO.clear()
    t1 = parse_html(html)
    # nodes 1 (<div>) and 2 (<p>)... find the p node
    p1 = next(i for i, nm in enumerate(t1.name) if nm == "p")
    set_attribute(t1, p1, "class", "MUTATED")
    set_attribute(t1, p1, "new", "v")
    t2 = parse_html(html)
    p2 = next(i for i, nm in enumerate(t2.name) if nm == "p")
    assert t2.attrs[p2] == {"class": "x"}
    # within one document too: two identical tags get distinct dicts
    t3 = parse_html('<p class="x">a</p><p class="x">b</p>')
    ps = [i for i, nm in enumerate(t3.name)
          if nm == "p" and t3.type[i] == "tag-open"]
    assert len(ps) == 2
    assert t3.attrs[ps[0]] is not t3.attrs[ps[1]]
    t3.attrs[ps[0]]["class"] = "zz"
    assert t3.attrs[ps[1]]["class"] == "x"


def test_void_elems_match_reference_list():
    assert VOID_ELEMS == frozenset(
        "img br hr input meta link area base col embed param source "
        "track wbr".split())


def _pdf_stage_output(*payloads: bytes):
    """extract_pdf_text's per-partition output over one Arrow batch of
    ``payloads``."""
    import pyarrow as pa

    from simple_html_parser_spark.operators.pdftext import _make_pdf_fn
    batch = pa.record_batch(
        [pa.array([f"u{i}" for i in range(len(payloads))]),
         pa.array(payloads, pa.binary())], names=["url", "payload"])
    return pa.Table.from_batches(list(_make_pdf_fn()(iter([batch]))))


@given(st.binary(max_size=300))
@settings(max_examples=300, deadline=None)
def test_pdf_parser_never_crashes_on_garbage(b):
    """The PDF stage must isolate ANY payload — raw garbage as well as
    %PDF-prefixed garbage — into rows, never exceptions (the
    poison-payload guarantee at crawl scale)."""
    out = _pdf_stage_output(b, b"%PDF-1.4\n" + b)
    assert out.num_rows >= 2
    assert {"page", "decoded"} <= set(out.column_names)


@given(st.integers(0, 2**31 - 1), st.integers(0, 120))
@settings(max_examples=150, deadline=None)
def test_pdf_parser_survives_point_mutations(seed, ndel):
    """A structurally valid PDF with random byte flips/deletions must
    either parse or fall back — never raise out of the stage."""
    import random

    c1 = b"BT /F1 12 Tf 72 720 Td (mutation corpus) Tj ET\n"
    base = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(c1)).encode()
        + b" >>\nstream\n" + c1 + b"\nendstream\nendobj\n%%EOF")
    rng = random.Random(seed)
    m = bytearray(base)
    for _ in range(rng.randint(1, 8)):
        m[rng.randrange(len(m))] = rng.randrange(256)
    del m[len(m) - ndel:]
    assert _pdf_stage_output(bytes(m)).num_rows >= 1


def test_replace_with_self_detaches_for_iah():
    """Reference parity (node.js:1899-1902 + 1637-1641, fuzz seed
    777): replaceWith(self) re-inserts the node but still nulls parent
    across the delete set, so a later insertAdjacentHTML on the node or
    any descendant walks to a parserless local root and throws."""
    import pytest as _pt

    from simple_html_parser_spark.kernel import manipulate, selector

    tree = parse_html('<div id="w"><p class="a">x</p></div><ul><li>z'
                      '</li></ul>')
    w = selector.query_selector(tree, 0, "#w")
    manipulate.replace_with(tree, w, w)
    # the splice-at-stale-index quirk ate the <ul> siblings
    assert "ul" not in to_html(tree, 0, False)
    p = selector.query_selector(tree, w, ".a")
    with _pt.raises(ValueError, match="Parser not found"):
        manipulate.insert_adjacent_html(tree, p, "afterbegin", "<b>y</b>")
    with _pt.raises(ValueError, match="Parser not found"):
        manipulate.insert_adjacent_html(tree, w, "afterbegin", "<b>y</b>")


def test_pdf_adversarial_kids_cycle_and_flate_bomb():
    """A /Kids cycle must yield a fallback row (not an infinite loop or
    RecursionError); a flate bomb must hit the inflation cap (not
    balloon into worker memory)."""
    import zlib

    from simple_html_parser_spark.operators.pdftext import parse_pdf_pages

    def obj(num, body):
        return f"{num} 0 obj\n".encode() + body + b"endobj\n"

    cyclic = (
        b"%PDF-1.4\n"
        + obj(1, b"<< /Type /Catalog /Pages 2 0 R >>\n")
        + obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>\n")
        + obj(3, b"<< /Type /Pages /Kids [2 0 R] /Count 1 >>\n")
        + b"%%EOF")
    out = _pdf_stage_output(cyclic)
    assert out.column("decoded").to_pylist() == [False]

    bomb = zlib.compress(b"\x00" * (80 * 1024 * 1024), 9)  # ~80 KB in
    c1 = b"BT 0 0 Td (x) Tj ET\n"
    bombed = (
        b"%PDF-1.4\n"
        + obj(1, b"<< /Type /Catalog /Pages 2 0 R >>\n")
        + obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>\n")
        + obj(3, b"<< /Type /Page /Contents 4 0 R >>\n")
        + obj(4, b"<< /Length " + str(len(bomb)).encode()
              + b" /Filter /FlateDecode >>\nstream\n" + bomb
              + b"\nendstream\n")
        + b"%%EOF")
    out = _pdf_stage_output(bombed)
    assert out.column("decoded").to_pylist() == [False]
    # a deep-but-legal nested page tree still parses (iterative walk)
    depth = 3000
    objs = [obj(1, b"<< /Type /Catalog /Pages 2 0 R >>\n")]
    for k in range(depth):
        objs.append(obj(
            2 + k, f"<< /Type /Pages /Kids [{3 + k} 0 R] /Count 1 "
                   f">>\n".encode()))
    objs.append(obj(2 + depth,
                    b"<< /Type /Page /Contents "
                    + str(3 + depth).encode() + b" 0 R >>\n"))
    objs.append(obj(3 + depth, b"<< /Length " + str(len(c1)).encode()
                    + b" >>\nstream\n" + c1 + b"\nendstream\n"))
    deep = b"%PDF-1.4\n" + b"".join(objs) + b"%%EOF"
    assert parse_pdf_pages(deep)[0][1] == "x"


def test_charset_sniffer_tiers():
    """BOM beats meta beats default; unknown labels fall back to
    latin-1; the meta prescan stops at 1024 bytes; decode survives
    arbitrary garbage (errors=replace, never raises)."""
    from simple_html_parser_spark.kernel.charset import (
        PRESCAN_BYTES, decode_html, sniff_charset,
    )

    page = '<html><head><meta charset="iso-8859-1"></head>x</html>'
    # BOM wins even when a meta label disagrees
    assert sniff_charset(b"\xef\xbb\xbf" + page.encode()) == \
        ("utf-8", "bom")
    assert sniff_charset(b"\xff\xfe" + page.encode("utf-16-le")) == \
        ("utf-16le", "bom")
    assert sniff_charset(b"\xfe\xff" + page.encode("utf-16-be")) == \
        ("utf-16be", "bom")
    # meta tier, both syntaxes
    assert sniff_charset(page.encode()) == ("iso-8859-1", "meta")
    legacy = (b'<meta http-equiv="Content-Type" '
              b'content="text/html; charset=windows-1252">')
    assert sniff_charset(legacy) == ("windows-1252", "meta")
    # meta PAST the prescan window is ignored -> default
    far = b" " * PRESCAN_BYTES + page.encode()
    assert sniff_charset(far) == ("utf-8", "default")
    # decode round-trips: utf-16le bytes come back as the same string
    text, enc, src = decode_html(b"\xff\xfe" + page.encode("utf-16-le"))
    assert (text, enc, src) == (page, "utf-16le", "bom")
    # latin-1 decode of a 0xE9 byte under the meta label
    t2, e2, _ = decode_html(
        b'<meta charset="iso-8859-1">caf\xe9')
    assert t2.endswith("café") and e2 == "iso-8859-1"
    # unknown label -> latin-1 fallback, never an exception
    t3, e3, s3 = decode_html(b'<meta charset="klingon-8">\xff\xfe ok')
    assert e3 == "klingon-8" and s3 == "meta" and t3.endswith(" ok")
    # pure garbage decodes without raising
    import os as _os
    for _ in range(20):
        decode_html(_os.urandom(64))


def test_charset_fallback_and_comment_prescan():
    """Tier 3: an unlabelled page that fails the strict utf-8 probe
    decodes as windows-1252 (source 'fallback'); clean ASCII/utf-8
    stays 'default'.  A charset label inside an HTML comment is
    skipped by the prescan (WHATWG steps over comment spans)."""
    from simple_html_parser_spark.kernel.charset import (
        decode_html, sniff_charset,
    )

    # unlabelled cp1252: 0xE9 is invalid utf-8 -> fallback tier
    raw = b"<html><body><p>caf\xe9</p></body></html>"
    assert sniff_charset(raw) == ("windows-1252", "fallback")
    text, enc, src = decode_html(raw)
    assert (enc, src) == ("windows-1252", "fallback")
    assert "café" in text
    # cp1252-specific high bytes (not latin-1): 0x93/0x94 curly quotes
    t_q, e_q, _ = decode_html(b"<p>\x93ok\x94</p>")
    assert "“ok”" in t_q and e_q == "windows-1252"
    # unlabelled clean utf-8 (incl. multibyte) stays the default tier
    assert sniff_charset("<p>café</p>".encode()) == ("utf-8", "default")
    assert decode_html("<p>café</p>".encode())[0] == "<p>café</p>"
    # a commented-out meta label must NOT win the prescan
    commented = (b'<!-- <meta charset="shift_jis"> -->'
                 b"<html><body>x</body></html>")
    assert sniff_charset(commented) == ("utf-8", "default")
    # ...but a real label AFTER a comment still does
    after = (b"<!-- banner -->"
             b'<meta charset="iso-8859-1"><body>x</body>')
    assert sniff_charset(after) == ("iso-8859-1", "meta")
    # unterminated comment swallows the rest of the prescan window
    unterm = b'<!-- <meta charset="big5"> <body>caf\xe9'
    assert sniff_charset(unterm) == ("windows-1252", "fallback")


def test_charset_meta_utf16_label_is_utf8():
    """WHATWG rule: a meta-sourced utf-16 label maps to utf-8 — the
    prescan could only read the label because the bytes are
    ASCII-compatible, so the label is necessarily wrong."""
    from simple_html_parser_spark.kernel.charset import (
        decode_html, sniff_charset,
    )

    page = b'<meta charset="utf-16le">hello'
    assert sniff_charset(page) == ("utf-8", "meta")
    assert decode_html(page)[0].endswith("hello")
