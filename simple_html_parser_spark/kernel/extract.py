"""Main-content extraction over a parsed FlatTree.

The reference repo has no extraction layer — this spec is FROZEN here
(FIXTURES.md §6) and mirrored verbatim in tools/ref_dump.mjs, which
runs it over the REFERENCE parser's tree; byte-identical output per url
is therefore a cross-runtime equivalence test of the tree semantics
(BASELINE.json north_rule: "matching the reference's extracted
text/spans per document").

Two profiles:

- ``parity``: DFS document-order text collection, skipping
  (a) styleBlock subtrees (CSS children, never text),
  (b) scriptBlock subtrees (special-tag JS text),
  (c) subtrees of blacklisted elements (case-insensitive tag match),
  keeping every text node with at least one non-JS-whitespace char,
  concatenated verbatim.  This is the golden-gated flagship output.

- ``main_content``: parity candidates grouped into nearest block-level
  ancestor; a block is kept when its total trimmed text length ≥
  ``min_block_chars`` AND its link-text density ≤ ``max_link_density``
  (boilerplate nav/footer lists are link-dense).  Deterministic,
  golden-gated through the same JS mirror.

``extract(tree, profile)`` over a FlatTree is the reference form of
both profiles: the plain, untuned rule (one DFS and an un-memoised
ancestor walk), kept that way so it reads as the spec.  The Spark
stage calls ``extract_html``, which applies the tokenizer's rules and
the extraction in one streaming pass without building a tree; it is
tested to equal ``extract(parse_html(html))`` field by field.  Speed
work goes into ``extract_html``, never into ``extract``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .cssparser import parse_css_into
from .jsre import (
    JS_WS_SET, TAG_START_CHARS, is_js_blank, js_substring, js_trim,
)
from .tokenizer import (
    _TAG_MEMO, DEFAULT_SPECIAL_TAGS, VOID_ELEMS, NodeCapExceeded,
    _parse_js_content, _tag_entry,
)
from .tree import TAG_OPEN, TEXT, FlatTree

# Frozen extraction blacklist (FIXTURES.md §6).
BLACKLIST = frozenset((
    "script", "style", "noscript", "template", "head", "nav",
    "footer", "aside", "iframe", "svg",
))

# Block-level grouping tags for the density profile.
BLOCK_TAGS = frozenset((
    "div", "p", "article", "section", "main", "td", "th", "li",
    "blockquote", "pre", "body", "h1", "h2", "h3", "h4", "h5", "h6",
))


@dataclass(frozen=True)
class ExtractionProfile:
    mode: str = "parity"  # 'parity' | 'density'
    blacklist: frozenset = field(default=BLACKLIST)
    block_tags: frozenset = field(default=BLOCK_TAGS)
    min_block_chars: int = 20
    max_link_density: float = 0.5


PARITY = ExtractionProfile(mode="parity")
MAIN_CONTENT = ExtractionProfile(mode="density")


@dataclass
class ExtractResult:
    text: str
    spans: list[tuple[int, int]]
    n_nodes: int
    n_text_nodes: int


_A = frozenset(("a",))


def _nearest(tree: FlatTree, nid: int, names: frozenset) -> int:
    """Nearest ancestor tag-open whose lowercased name is in ``names``
    (walks the structural parent chain); -1 if none."""
    p = tree.parent[nid]
    while p >= 0:
        if tree.type[p] == TAG_OPEN and tree.name[p].lower() in names:
            return p
        p = tree.parent[p]
    return -1


def extract(
    tree: FlatTree, profile: ExtractionProfile = PARITY
) -> ExtractResult:
    """The frozen §6 rule over a FlatTree, stated plainly.

    One document-order DFS skips style, script and blacklisted
    subtrees and keeps every text node that is not JS-blank.  The
    density profile then groups those nodes by their nearest block
    ancestor and keeps a block when its trimmed text and link text
    pass the profile's thresholds."""
    kept: list[int] = []
    stack = [0]
    while stack:
        nid = stack.pop()
        if tree.type[nid] == TEXT:
            if not is_js_blank(tree.content[nid]):
                kept.append(nid)
        elif not (tree.type[nid] == TAG_OPEN and (
                tree.is_style_block(nid) or tree.is_script_block(nid)
                or tree.name[nid].lower() in profile.blacklist)):
            stack.extend(reversed(tree.children[nid]))
    n_text_nodes = len(kept)

    if profile.mode != "parity":
        blocks = [_nearest(tree, nid, profile.block_tags) for nid in kept]
        text_chars: dict[int, int] = {}
        link_chars: dict[int, int] = {}
        for nid, block in zip(kept, blocks):
            # frozen-spec length = Unicode CODE POINTS (a JS .length would
            # count astral chars twice; the harness mirror uses Array.from)
            k = len(js_trim(tree.content[nid]))
            text_chars[block] = text_chars.get(block, 0) + k
            # node ids are in document order, so of two ancestors the
            # later one is the deeper: link text counts only for an <a>
            # inside the block
            if _nearest(tree, nid, _A) > block:
                link_chars[block] = link_chars.get(block, 0) + k
        kept_blocks = {
            b for b, tc in text_chars.items()
            if tc >= profile.min_block_chars
            and link_chars.get(b, 0) <= profile.max_link_density * tc
        }
        kept = [nid for nid, b in zip(kept, blocks) if b in kept_blocks]

    return ExtractResult(
        text="".join(tree.content[nid] for nid in kept),
        spans=[(tree.src_start[nid], tree.src_end[nid]) for nid in kept
               if tree.src_start[nid] >= 0],
        n_nodes=len(tree.type), n_text_nodes=n_text_nodes,
    )


def extract_html(
    html: str, profile: ExtractionProfile = PARITY,
    max_nodes: int | None = None,
) -> ExtractResult:
    """``extract(parse_html(html, max_nodes=max_nodes), profile)`` in
    one pass, without a FlatTree: the same text, spans and node counts,
    and the same ``NodeCapExceeded`` at the same byte.

    The loop is ``parse_html``'s, node for node, but it only counts the
    nodes extraction never reads.  In place of the tree it keeps the
    stack of open elements, one ``(name, skipped, block, link)`` entry
    each: the name close tags match against, whether the element or an
    ancestor is skipped, and the node ids of the nearest block and
    ``<a>`` elements at or above it.  A text node's ancestors are
    exactly that stack when it is emitted, so it is a candidate when
    the top is not skipped.  CSS and special-tag bodies are rare; they
    run through the tokenizer's own submachines into a throwaway tree,
    only to be counted."""
    density = profile.mode != "parity"
    blacklist = profile.blacklist
    block_tags = profile.block_tags
    memo_get = _TAG_MEMO.get
    find = html.find
    n = len(html)
    cap = max_nodes if max_nodes is not None else (1 << 62)
    tag_start, void, special, ws = (
        TAG_START_CHARS, VOID_ELEMS, DEFAULT_SPECIAL_TAGS, JS_WS_SET)

    # open elements, root first (the root never matches a close tag)
    stack = [("", False, -1, -1)]
    _, skip, block, link = stack[0]
    parts: list[str] = []
    spans: list[tuple[int, int]] = []
    cand_blocks: list[int] = []
    text_chars: dict[int, int] = {}
    link_chars: dict[int, int] = {}
    push = stack.append
    add_part, add_span = parts.append, spans.append
    nn = 1  # node count; root is node 0
    pos = 0

    while pos < n:
        if nn > cap:
            raise NodeCapExceeded(
                f"document exceeds {max_nodes} nodes at byte {pos}")

        if html[pos] == "<":
            nxt = html[pos + 1] if pos + 1 < n else None

            if nxt == "!" and html.startswith("<!--", pos):
                comment_end = find("-->", pos)
                if comment_end == -1:
                    pos += 1
                    continue
                nn += 1
                pos = comment_end + 3
                continue

            if nxt is not None and nxt not in tag_start:
                # non-tag '<': a text node up to the next '<' (below)
                next_tag = find("<", pos + 1)

            elif nxt != "/":
                tag_end = find(">", pos)
                if tag_end == -1:
                    pos += 1
                    continue
                tag_content = html[pos + 1:tag_end]
                memo = memo_get(tag_content)
                if memo is None:
                    memo = _tag_entry(tag_content)
                tag_name = memo[0]
                node = nn
                nn += 1

                if tag_name == "style":
                    close_pos = find("</style>", pos)
                    if close_pos != -1:
                        throwaway = FlatTree()
                        parse_css_into(throwaway, 0, js_substring(
                            html, tag_end + 1, close_pos))
                        # its CSS nodes (all but the throwaway root) and
                        # the close tag
                        nn += len(throwaway.type)
                        pos = close_pos + 8  # len('</style>')
                        continue

                script = False
                if tag_name in special and memo[2] == 0:
                    close_tag = f"</{tag_name}>"
                    close_pos = find(close_tag, tag_end)
                    if close_pos != -1:
                        throwaway = FlatTree()
                        _parse_js_content(throwaway, 0, js_substring(
                            html, tag_end + 1, close_pos), tag_end + 1)
                        nn += len(throwaway.type)  # as for CSS above
                        pos = close_pos + len(close_tag)
                        continue
                    script = True  # unterminated: its subtree is skipped

                if tag_name not in void:
                    lname = tag_name.lower()
                    skip = skip or script or lname in blacklist
                    if density:
                        if lname in block_tags:
                            block = node
                        if lname == "a":
                            link = node
                    push((tag_name, skip, block, link))
                pos = tag_end + 1
                continue

            else:
                tag_end = find(">", pos)
                if tag_end == -1:
                    pos += 1
                    continue
                tag_name = html[pos + 2:tag_end]
                nn += 1
                # pop to the matching open element's parent, if any
                i = len(stack) - 1
                while i > 0:
                    if stack[i][0] == tag_name:
                        del stack[i:]
                        _, skip, block, link = stack[-1]
                        break
                    i -= 1
                pos = tag_end + 1
                continue
        else:
            next_tag = find("<", pos)

        text_end = n if next_tag == -1 else next_tag
        nn += 1
        if not skip:
            c = html[pos:text_end]
            if c[0] not in ws or js_trim(c) != "":
                add_part(c)
                add_span((pos, text_end))
                if density:
                    cand_blocks.append(block)
                    k = len(js_trim(c))
                    text_chars[block] = text_chars.get(block, 0) + k
                    if link > block:  # an <a> inside the block
                        link_chars[block] = link_chars.get(block, 0) + k
        pos = text_end

    n_text_nodes = len(parts)
    if density and parts:
        kept = {
            b for b, tc in text_chars.items()
            if tc >= profile.min_block_chars
            and link_chars.get(b, 0) <= profile.max_link_density * tc
        }
        keep = [b in kept for b in cand_blocks]
        parts = [c for c, k in zip(parts, keep) if k]
        spans = [s for s, k in zip(spans, keep) if k]
    return ExtractResult(text="".join(parts), spans=spans, n_nodes=nn,
                         n_text_nodes=n_text_nodes)
