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
both profiles.  The Spark stage calls ``extract_html``, which applies
the tokenizer's rules and the extraction in one streaming pass without
building a tree; it is tested to equal ``extract(parse_html(html))``
field by field.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .cssparser import parse_css_into
from .jsre import JS_WS_SET, TAG_START_CHARS, js_substring, js_trim
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


def _parity_candidates(tree: FlatTree, profile: ExtractionProfile):
    """Document-order kept text node ids — the shared candidate walk
    for BOTH profiles (r5: the density path's per-node
    (nid, ancestor) tuple bookkeeping was dead weight — the ancestor
    was never consumed; _density_filter derives block/link ancestry
    via its own memoised chain walks)."""
    out: list[int] = []
    ap = out.append
    children = tree.children
    ttype = tree.type
    tname = tree.name
    content = tree.content
    flags = tree.flags
    blacklist = profile.blacklist
    stack = [0]
    # children are pushed reversed via ONE C-level extend of a slice
    # copy instead of a per-child Python push loop — identical visit
    # order, measured x1.7 on the candidate walk (r6 paired CPU A/B,
    # median of 7 interleaved pairs on the text-heavy bench pages)
    ext = stack.extend
    pop = stack.pop
    while stack:
        nid = pop()
        ty = ttype[nid]
        if ty == TEXT:
            c = content[nid]
            if c and (c[0] not in JS_WS_SET or js_trim(c) != ""):
                ap(nid)
            continue
        if ty == TAG_OPEN and (
                flags[nid] & 3 or tname[nid].lower() in blacklist):
            continue
        kids = children[nid]
        if kids:
            ext(kids[::-1])
    return out


def extract(
    tree: FlatTree, profile: ExtractionProfile = PARITY
) -> ExtractResult:
    if profile.mode == "parity":
        kept_ids = _parity_candidates(tree, profile)
        n_text_nodes = len(kept_ids)
    else:
        cands = _parity_candidates(tree, profile)
        n_text_nodes = len(cands)
        kept_ids = cands if not cands else _density_filter(
            tree, cands, profile)

    content = tree.content
    text = "".join(map(content.__getitem__, kept_ids))
    src_start = tree.src_start
    src_end = tree.src_end
    spans = [
        (src_start[nid], src_end[nid]) for nid in kept_ids
        if src_start[nid] >= 0
    ]
    return ExtractResult(
        text=text, spans=spans,
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


def _nearest(tree: FlatTree, nid: int, names: frozenset) -> int:
    """Nearest ancestor tag-open whose lowercased name is in ``names``
    (walks the structural parent chain); -1 if none."""
    p = tree.parent[nid]
    while p >= 0:
        if tree.type[p] == TAG_OPEN and tree.name[p].lower() in names:
            return p
        p = tree.parent[p]
    return -1


def _nearest_memo(
    tree: FlatTree, nid: int, names: frozenset, cache: dict
) -> int:
    """``_nearest`` with a per-call-site memo over ancestor node ids.

    ``cache[e]`` = nearest tag-open in ``names`` at-or-above element
    ``e`` (-1 if none).  Candidates in one document share ancestor
    chains, so the naive walk is O(candidates × depth) with a
    ``str.lower`` per step; memoised it is O(elements) total — on
    real crawl pages (depth 15-25, thousands of text nodes) this is
    the difference between ~40k and ~2k chain steps per document.
    Pure lookup reordering: returns exactly ``_nearest``'s value."""
    p = tree.parent[nid]
    path = []
    ttype = tree.type
    tname = tree.name
    tparent = tree.parent
    while p >= 0:
        hit = cache.get(p)
        if hit is not None:
            break
        if ttype[p] == TAG_OPEN and tname[p].lower() in names:
            hit = p
            break
        path.append(p)
        p = tparent[p]
    else:
        hit = -1
    for e in path:
        cache[e] = hit
    if p >= 0:
        cache[p] = hit
    return hit


_A = frozenset(("a",))


def _density_filter(
    tree: FlatTree, cands: list[int],
    profile: ExtractionProfile,
) -> list[int]:
    # Group candidates by nearest block ancestor; aggregate text and
    # link-text character counts per block.  Sibling text nodes share
    # a parent, so the memo's answer for parent[nid] is usually
    # already cached — the dict .get fast path below skips the
    # _nearest_memo call frame for that common case (r5; identical
    # values by construction: the memo caches every visited element).
    block_of: list[int] = []
    text_chars: dict[int, int] = {}
    link_chars: dict[int, int] = {}
    block_cache: dict[int, int] = {}
    link_cache: dict[int, int] = {}
    tparent = tree.parent
    content = tree.content
    block_tags = profile.block_tags
    bc_get = block_cache.get
    lc_get = link_cache.get
    for nid in cands:
        p = tparent[nid]
        block = bc_get(p)
        if block is None:
            block = _nearest_memo(tree, nid, block_tags, block_cache)
        block_of.append(block)
        # frozen-spec length = Unicode CODE POINTS (a JS .length would
        # count astral chars twice; the harness mirror uses Array.from)
        n = len(js_trim(content[nid]))
        text_chars[block] = text_chars.get(block, 0) + n
        link_anc = lc_get(p)
        if link_anc is None:
            link_anc = _nearest_memo(tree, nid, _A, link_cache)
        # link text only counts if the <a> is inside the block
        if link_anc != -1 and (block == -1 or link_anc > block):
            link_chars[block] = link_chars.get(block, 0) + n
    kept_blocks = {
        b for b, tc in text_chars.items()
        if tc >= profile.min_block_chars
        and link_chars.get(b, 0) <= profile.max_link_density * tc
    }
    return [
        nid for nid, b in zip(cands, block_of) if b in kept_blocks
    ]
