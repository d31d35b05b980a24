"""Single-pass HTML tokenizer + tree builder.

Semantics-identical reimplementation of the reference parse loop
(/root/reference/src/simple-html-parser.js:54-359) producing a
:class:`FlatTree` instead of a pointer-linked node graph.  Append order
is document order, so node ids are pre-order positions.

Pinned quirks replicated deliberately (verified against the reference
under Node, see tests/test_differential.py):

- comments close at the FIRST ``-->`` — ``indexOf`` may land *inside*
  the opener, and JS ``substring`` swaps its arguments, so ``<!-->``
  yields a comment with content ``--`` (js:63,69);
- ``<br/>`` parses as tag name ``br/`` (split on JS ``\\s+``), which is
  NOT void, so the parser descends into it (js:106-107,296);
- attribute values use ``||`` so an EMPTY quoted value also becomes the
  ``__EMPVAL__`` sentinel (js:119);
- ``</style>`` for a style block is searched from the tag START (js:130)
  but special-tag closers from the tag END (js:164);
- close tags match by walking the OPEN ancestor chain; unmatched closers
  are appended in place (js:317-337);
- a trailing ``<`` (or any tag with no ``>``) is silently dropped one
  char at a time (js:100-103);
- no entity decoding anywhere.
"""

from __future__ import annotations

from .cssparser import parse_css_into
from .jsre import (
    ATTR_PATTERN, JS_REGEX_CONTEXT, TAG_START_CHARS, WS_PLUS,
    js_substring,
)
from .tree import (
    COMMENT, EMPTY_CHILDREN, FLAG_SCRIPT_BLOCK, FLAG_STYLE_BLOCK, ROOT,
    TAG_CLOSE, TAG_OPEN, TEXT, FlatTree,
)

# simple-html-parser.js:15 — membership is case-SENSITIVE during parse
# (an uppercase <IMG> is not void and the parser descends into it).
VOID_ELEMS = frozenset((
    "img", "br", "hr", "input", "meta", "link", "area", "base", "col",
    "embed", "param", "source", "track", "wbr",
))

DEFAULT_SPECIAL_TAGS = ("jhp", "s_")

# Memo of parsed open-tag contents: crawl pages are REPETITIVE — the
# same '<p class="content">' / '<a href="...">' tag bodies recur
# thousands of times per page and millions per task, so the
# WS_PLUS.search + ATTR_PATTERN.finditer work is paid once per
# DISTINCT tag body and replayed as one dict .get (r5 A/B, script
# removed, result recorded here: median paired CPU ratio 1.455 on the bench
# pages — +45% parse+extract throughput; trees byte-identical on all
# pages: the memo stores the parse RESULT, and every node receives
# its own dict COPY so downstream attribute mutation never aliases —
# pinned by test_tag_memo_no_attr_aliasing + goldens + fuzz).  Keys
# are capped at 256 chars (pathological inline payloads stay
# uncached) and the table clears at 4096 entries; worst-case races
# under free-threading recompute, never corrupt.
_TAG_MEMO: dict = {}
_TAG_MEMO_MAX = 4096
_TAG_MEMO_KEYLEN = 256


class NodeCapExceeded(RuntimeError):
    """Raised when a document parses into more nodes than max_nodes —
    the per-document safety valve for pathological crawl pages."""


def _tag_entry(tag_content: str) -> tuple[str, dict | None, int]:
    """Parse an open tag's body (between ``<`` and ``>``) into
    ``(tag_name, attrs, attr_len)`` and memoise it in ``_TAG_MEMO``.

    The memo-miss path of every tokenizer pass: the returned tuple is
    the memo's own entry, so a caller that keeps the attrs must copy
    the dict (``attrs`` is None when the tag has none; ``attr_len``
    counts attribute matches, duplicates included)."""
    # parts[0] of a JS \s+ split == prefix up to first JS-whitespace
    # ('' when it starts with whitespace)
    wsm = WS_PLUS.search(tag_content)
    tag_name = tag_content[:wsm.start()] if wsm else tag_content

    attrs = None  # dict allocated only when attrs exist
    attr_len = 0
    if len(tag_content) != len(tag_name):
        # finditer(s, pos) ≡ finditer(s[pos:]) for this anchor-free
        # pattern — skips one slice alloc per attributed tag (r5 kernel
        # A/B)
        for m in ATTR_PATTERN.finditer(tag_content, len(tag_name)):
            attr_len += 1
            if attrs is None:
                attrs = {}
            attrs[m.group(1)] = (
                m.group(2) or m.group(3) or m.group(4) or "__EMPVAL__")
    entry = (tag_name, attrs, attr_len)
    if len(tag_content) <= _TAG_MEMO_KEYLEN:
        if len(_TAG_MEMO) >= _TAG_MEMO_MAX:
            _TAG_MEMO.clear()
        _TAG_MEMO[tag_content] = entry
    return entry


def parse_html(
    html: str, special_tags: tuple[str, ...] = DEFAULT_SPECIAL_TAGS,
    max_nodes: int | None = None,
) -> FlatTree:
    """Parse an HTML string into a FlatTree (root is node 0).

    Hot path: node emission is fully INLINED into the loop body via
    pre-bound list-append methods — no emit helper calls at all.  The
    emitter-function generation before this (r1-r3) still paid one
    Python call + frame per node; inlining measured +10.8% on the
    text-heavy bench pages (r4 A/B, identical trees on the corpus +
    fuzz).  r5 A/B (+10.2% median paired CPU ratio on the same pages,
    identical trees on corpus + 1500-case fuzz): the tag-start
    dispatch is ONE frozenset lookup (TAG_START_CHARS) instead of
    4 compares + a C regex call, attrs parse via finditer(s, pos)
    instead of a slice, and ``ck_ap`` keeps the current node's
    children-append bound so leaf emission skips an index + attr
    fetch.  The node counter ``nn`` mirrors len(t.type) and is resynced
    after the CSS/JS submachines, which append through
    FlatTree.add_node.  Leaf nodes (text/comment/tag-close) share one
    immutable empty children tuple: a list per node measurably hurts
    multi-core scaling (allocator contention at 10^5 nodes/doc)."""
    t = FlatTree(ROOT)
    current = 0
    pos = 0
    n = len(html)
    ttype = t.type
    tname = t.name
    tparent = t.parent
    tchildren = t.children
    tflags = t.flags

    ap_type = t.type.append
    ap_name = t.name.append
    ap_attrs = t.attrs.append
    ap_content = t.content.append
    ap_parent = t.parent.append
    ap_children = t.children.append
    ap_flags = t.flags.append
    ap_s0 = t.src_start.append
    ap_s1 = t.src_end.append
    ct_col = t.comment_type

    cap = max_nodes if max_nodes is not None else (1 << 62)
    nn = 1  # node counter == len(ttype); root is node 0
    # bound append of the CURRENT node's children list — re-bound only
    # when `current` moves (open/close), so text/comment emission skips
    # the tchildren[current] index + attr fetch per node (r5 kernel A/B)
    ck_ap = tchildren[0].append

    while pos < n:
        if nn > cap:
            raise NodeCapExceeded(
                f"document exceeds {max_nodes} nodes at byte {pos}")
        ch = html[pos]

        if ch == "<":
            nxt = html[pos + 1] if pos + 1 < n else None

            # --- comment (js:62-77) -----------------------------------
            # ('<!--' implies nxt == '!', so the startswith probe only
            # runs on '<!' — it was ~25% of tag-dense parse time when
            # unconditionally probed per '<')
            if nxt == "!" and html.startswith("<!--", pos):
                comment_end = html.find("-->", pos)
                if comment_end == -1:
                    pos += 1
                    continue
                ap_type(COMMENT)
                ap_name("")
                ap_attrs(None)
                ap_content(js_substring(html, pos + 4, comment_end))
                ap_parent(current)
                ap_children(EMPTY_CHILDREN)
                ap_flags(0)
                ap_s0(-1)
                ap_s1(-1)
                ct_col[nn] = "html-comment"
                ck_ap(nn)
                nn += 1
                pos = comment_end + 3
                continue

            # --- non-tag '<' rescue (js:80-95) -------------------------
            # (JS html[pos+1] at EOF is undefined; the validTagName test
            # then runs on the string "undefined" and PASSES, so the
            # rescue never fires at EOF — the open-tag path does.)
            # One set lookup ≡ the reference's 4-compare + regex test
            # (see TAG_START_CHARS in jsre.py).
            if nxt is not None and nxt not in TAG_START_CHARS:
                next_tag = html.find("<", pos + 1)
                text_end = n if next_tag == -1 else next_tag
                ap_type(TEXT)
                ap_name("")
                ap_attrs(None)
                ap_content(html[pos:text_end])
                ap_parent(current)
                ap_children(EMPTY_CHILDREN)
                ap_flags(0)
                ap_s0(pos)
                ap_s1(text_end)
                ck_ap(nn)
                nn += 1
                pos = text_end
                continue

            if nxt != "/":
                # --- opening tag (js:98-301) ---------------------------
                tag_end = html.find(">", pos)
                if tag_end == -1:
                    pos += 1
                    continue
                # find('>', pos) with html[pos] == '<' implies
                # tag_end >= pos+1, so plain slicing is safe here
                tag_content = html[pos + 1:tag_end]
                memo = _TAG_MEMO.get(tag_content)
                if memo is None:
                    memo = _tag_entry(tag_content)
                tag_name, attrs, attr_len = memo
                if attrs is not None:
                    # the node gets its own dict — it is mutable
                    # downstream, the memo's is not
                    attrs = dict(attrs)

                node = nn
                ap_type(TAG_OPEN)
                ap_name(tag_name)
                ap_attrs(attrs)
                ap_content("")
                ap_parent(current)
                ap_children([])
                ap_flags(0)
                ap_s0(-1)
                ap_s1(-1)
                ck_ap(nn)
                nn += 1

                if tag_name == "style":
                    close_pos = html.find("</style>", pos)
                    if close_pos != -1:
                        tflags[node] |= FLAG_STYLE_BLOCK
                        parse_css_into(
                            t, node,
                            js_substring(html, tag_end + 1, close_pos),
                        )
                        pos = close_pos + 8  # len('</style>')
                        nn = len(ttype)  # resync after CSS submachine
                        ap_type(TAG_CLOSE)
                        ap_name(tag_name)
                        ap_attrs(None)
                        ap_content("")
                        ap_parent(current)
                        ap_children(EMPTY_CHILDREN)
                        ap_flags(FLAG_STYLE_BLOCK)
                        ap_s0(-1)
                        ap_s1(-1)
                        ck_ap(nn)
                        nn += 1
                        continue

                if tag_name in special_tags and attr_len == 0:
                    # scriptBlock flag is set BEFORE the closer lookup,
                    # so an unterminated special tag keeps it (js:162).
                    tflags[node] |= FLAG_SCRIPT_BLOCK
                    close_tag = f"</{tag_name}>"
                    close_pos = html.find(close_tag, tag_end)
                    if close_pos != -1:
                        _parse_js_content(
                            t, node,
                            js_substring(html, tag_end + 1, close_pos),
                            base=tag_end + 1,
                        )
                        nn = len(ttype)  # resync after JS submachine
                        ap_type(TAG_CLOSE)
                        ap_name(tag_name)
                        ap_attrs(None)
                        ap_content("")
                        ap_parent(current)
                        ap_children(EMPTY_CHILDREN)
                        ap_flags(FLAG_SCRIPT_BLOCK)
                        ap_s0(-1)
                        ap_s1(-1)
                        ck_ap(nn)
                        nn += 1
                        pos = close_pos + len(close_tag)
                        continue

                if tag_name not in VOID_ELEMS:
                    current = node
                    ck_ap = tchildren[node].append
                pos = tag_end + 1
                continue

            # --- closing tag (js:304-342) ------------------------------
            tag_end = html.find(">", pos)
            if tag_end == -1:
                pos += 1
                continue
            tag_name = html[pos + 2:tag_end]  # tag_end >= pos+2 here

            p = current
            found = False
            while p != -1 and ttype[p] != ROOT:
                if ttype[p] == TAG_OPEN and tname[p] == tag_name:
                    # close node becomes a SIBLING of the matched open
                    # tag; currentNode pops to the open tag's parent.
                    par = tparent[p]
                    ap_type(TAG_CLOSE)
                    ap_name(tag_name)
                    ap_attrs(None)
                    ap_content("")
                    ap_parent(par)
                    ap_children(EMPTY_CHILDREN)
                    ap_flags(0)
                    ap_s0(-1)
                    ap_s1(-1)
                    ck_ap = tchildren[par].append
                    ck_ap(nn)
                    nn += 1
                    current = par
                    found = True
                    break
                p = tparent[p]
            if not found:
                ap_type(TAG_CLOSE)
                ap_name(tag_name)
                ap_attrs(None)
                ap_content("")
                ap_parent(current)
                ap_children(EMPTY_CHILDREN)
                ap_flags(0)
                ap_s0(-1)
                ap_s1(-1)
                ck_ap(nn)
                nn += 1
            pos = tag_end + 1
            continue

        # --- plain text (js:345-355) -----------------------------------
        next_tag = html.find("<", pos)
        text_end = n if next_tag == -1 else next_tag
        if text_end > pos:
            ap_type(TEXT)
            ap_name("")
            ap_attrs(None)
            ap_content(html[pos:text_end])
            ap_parent(current)
            ap_children(EMPTY_CHILDREN)
            ap_flags(0)
            ap_s0(pos)
            ap_s1(text_end)
            ck_ap(nn)
            nn += 1
        pos = text_end

    return t


def _parse_js_content(
    t: FlatTree, node: int, sc: str, base: int
) -> None:
    """Special-tag content submachine: split into text nodes and
    js-single-line / js-multi-line comment nodes with string-literal and
    regex-literal awareness (js:172-280).  ``base`` is the source offset
    of ``sc`` for span bookkeeping."""
    n = len(sc)
    in_string = False
    string_char = ""
    in_regex = False
    in_comment = False
    comment_type = ""
    comment_start = -1
    text_start = 0
    i = 0

    def emit_text(start: int, end: int) -> None:
        t.add_node(TEXT, node, content=sc[start:end],
                   src_start=base + start, src_end=base + end)

    def emit_comment(start: int, end: int) -> None:
        t.add_node(COMMENT, node, content=sc[start:end],
                   comment_type=comment_type)

    while i < n:
        char = sc[i]
        next_char = sc[i + 1] if i < n - 1 else ""
        prev_char = sc[i - 1] if i > 0 else ""

        # escape sequences: skip char after backslash (js:188-190)
        if prev_char == "\\":
            i += 1
            continue

        if (not in_comment and not in_regex
                and (char == '"' or char == "'" or char == "`")):
            if not in_string:
                in_string = True
                string_char = char
            elif char == string_char:
                in_string = False
            i += 1
            continue

        # regex-literal start: '/' preceded by an operator context
        # (js:204-208); note this runs before comment detection, so
        # "//"-after-'=' is treated as an empty regex — quirk preserved.
        if (not in_comment and not in_string and char == "/"
                and prev_char != "*"
                and (i == 0 or sc[i - 1] in JS_REGEX_CONTEXT)):
            in_regex = True
            i += 1
            continue

        if in_regex and char == "/" and prev_char != "\\":
            in_regex = False
            i += 1
            continue

        if not in_string and not in_regex and not in_comment:
            if char == "/" and next_char == "/":
                if text_start < i:
                    emit_text(text_start, i)
                in_comment = True
                comment_type = "js-single-line"
                comment_start = i + 2
                i += 2
                continue
            if char == "/" and next_char == "*":
                if text_start < i:
                    emit_text(text_start, i)
                in_comment = True
                comment_type = "js-multi-line"
                comment_start = i + 2
                i += 2
                continue
        elif in_comment:
            if comment_type == "js-single-line" and char == "\n":
                emit_comment(comment_start, i)
                in_comment = False
                text_start = i + 1
            elif (comment_type == "js-multi-line" and char == "*"
                  and next_char == "/"):
                emit_comment(comment_start, i)
                in_comment = False
                text_start = i + 2
                i += 2
                continue
        i += 1

    if in_comment:
        emit_comment(comment_start, n)
    elif text_start < n:
        emit_text(text_start, n)
