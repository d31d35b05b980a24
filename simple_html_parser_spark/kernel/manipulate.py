"""Tree manipulation operators (M1-M8) + the removal-safe iterator (Q1).

Semantics-identical to the reference:
- createNode (/root/reference/src/node.js:420-451)
- appendChild (node.js:245-270), insertBefore (node.js:1525-1597),
  insertAfter (node.js:1430-1498), insertAdjacentHTML (node.js:1629-1706)
- replaceWith (node.js:1829-1905), remove (node.js:1768-1800)
- #extractNode (node.js:1039-1088), #findClosingTag (node.js:1157-1175)
- the [Symbol.iterator] depth-first traversal with skipChildren and
  mid-iteration removal handling (node.js:78-233)

These run on a mutated FlatTree: after any operation node ids are no
longer pre-order; document order is defined solely by the children
lists.  Cold path (fixture parity + offline rewrites), not the
extraction hot path.

Pinned quirks mirrored on purpose:
- moves carry the adjacent closing tag AND the preceding
  whitespace-only text node; plain appendChild drops the whitespace
  (node.js:255-256 vs 1577-1581);
- replaceWith computes the splice index BEFORE extracting replacement
  nodes, so a replacement extracted from an earlier position in the
  same parent shifts the splice point (node.js:1836 vs 1874) —
  reference behavior, replicated;
- remove() on the node an iterator currently points at ENDS the
  iteration (the patched remove clears .parent, and getNextNode's
  wasRemoved branch then returns null, node.js:117-131).
"""

from __future__ import annotations

from . import selector, serialize
from .jsre import is_js_blank
from .tokenizer import DEFAULT_SPECIAL_TAGS, parse_html
from .tree import ROOT, TAG_CLOSE, TAG_OPEN, TEXT, FlatTree

VOID_ELEMS_LOWER = frozenset((
    "img", "br", "hr", "input", "meta", "link", "area", "base", "col",
    "embed", "param", "source", "track", "wbr",
))


def _is_void(tree: FlatTree, nid: int) -> bool:
    """#isVoidElement — case-SENSITIVE list membership (node.js:1713)."""
    return (tree.type[nid] == TAG_OPEN
            and tree.name[nid] in VOID_ELEMS_LOWER)


def _ensure_children_list(tree: FlatTree, nid: int) -> list:
    """Leaf nodes from the tokenizer share an immutable empty tuple;
    promote to a list on first mutation."""
    kids = tree.children[nid]
    if not isinstance(kids, list):
        kids = list(kids)
        tree.children[nid] = kids
    return kids


def find_closing_tag(tree: FlatTree, nid: int) -> int | None:
    """Adjacent next sibling of matching name (node.js:1157-1175)."""
    parent = tree.parent[nid]
    if parent < 0 or tree.type[nid] != TAG_OPEN:
        return None
    siblings = tree.children[parent]
    try:
        idx = siblings.index(nid)
    except ValueError:
        return None
    if idx + 1 < len(siblings):
        cand = siblings[idx + 1]
        if (tree.type[cand] == TAG_CLOSE
                and tree.name[cand] == tree.name[nid]):
            return cand
    return None


def _extract_node(tree: FlatTree, nid: int) -> dict:
    """#extractNode (node.js:1039-1088): detach node + adjacent closing
    tag + preceding whitespace-only text sibling."""
    parent = tree.parent[nid]
    if parent < 0:
        return {"opening": nid, "closing": None, "whitespace": None,
                "removed": 0, "start": -1}
    siblings = _ensure_children_list(tree, parent)
    try:
        index = siblings.index(nid)
    except ValueError:
        return {"opening": nid, "closing": None, "whitespace": None,
                "removed": 0, "start": -1}

    closing = None
    whitespace = None
    removed = 1
    start = index

    if index > 0:
        prev = siblings[index - 1]
        if tree.type[prev] == TEXT \
                and is_js_blank(tree.content[prev]):
            whitespace = prev
            start = index - 1
            removed += 1

    if tree.type[nid] == TAG_OPEN:
        closing = find_closing_tag(tree, nid)
        if closing is not None:
            removed += 1

    del siblings[start:start + removed]
    tree.parent[nid] = -1
    if closing is not None:
        tree.parent[closing] = -1
    if whitespace is not None:
        tree.parent[whitespace] = -1
    return {"opening": nid, "closing": closing, "whitespace": whitespace,
            "removed": removed, "start": start}


def _flatten(nodes) -> list[int]:
    out: list[int] = []
    for n in nodes:
        if isinstance(n, (list, tuple)):
            out.extend(n)
        else:
            out.append(n)
    return out


def create_node(
    tree: FlatTree, tag_name: str, attributes: dict | None = None,
    content=None,
) -> list[int]:
    """createNode (node.js:420-451): [open, close] or [open] for voids
    (case-INSENSITIVE void check here, unlike the parser)."""
    open_tag = tree.new_node(TAG_OPEN, name=tag_name,
                             attrs=dict(attributes or {}))
    if content is not None:
        if isinstance(content, str):
            text = tree.new_node(TEXT, content=content)
            tree.children[open_tag].append(text)
            tree.parent[text] = open_tag
        elif isinstance(content, (list, tuple)):
            for child in _flatten(content):
                tree.children[open_tag].append(child)
                tree.parent[child] = open_tag
        else:  # single node id
            tree.children[open_tag].append(content)
            tree.parent[content] = open_tag
    if tag_name.lower() not in VOID_ELEMS_LOWER:
        close_tag = tree.new_node(TAG_CLOSE, name=tag_name)
        return [open_tag, close_tag]
    return [open_tag]


def append_child(tree: FlatTree, parent: int, *nodes) -> list[int]:
    """appendChild (node.js:245-270): moves in-tree nodes (carrying the
    closing tag, NOT the old-location whitespace)."""
    flat = _flatten(nodes)
    kids = _ensure_children_list(tree, parent)
    for nid in flat:
        closing = None
        if tree.parent[nid] >= 0:
            closing = _extract_node(tree, nid)["closing"]
        tree.parent[nid] = parent
        kids.append(nid)
        if closing is not None:
            tree.parent[closing] = parent
            kids.append(closing)
    return flat


def insert_before(tree: FlatTree, target: int, *nodes) -> int:
    """insertBefore (node.js:1525-1597)."""
    if tree.parent[target] < 0:
        raise ValueError("Cannot insert before a node with no parent")
    flat = _flatten(nodes)

    # tag-close target redirects to its adjacent opening tag
    if tree.type[target] == TAG_CLOSE:
        siblings = tree.children[tree.parent[target]]
        close_idx = siblings.index(target)
        if close_idx > 0:
            cand = siblings[close_idx - 1]
            if (tree.type[cand] == TAG_OPEN
                    and tree.name[cand] == tree.name[target]):
                target = cand

    siblings = _ensure_children_list(tree, tree.parent[target])
    insert_index = siblings.index(target)
    _insert_run(tree, target, flat, insert_index)
    return target


def _insert_run(tree: FlatTree, anchor: int, flat: list[int],
                insert_index: int) -> None:
    """Shared insertBefore/insertAfter loop.  Mirrors the reference's
    FRESH ``targetNode.parent`` reads per splice (node.js:1477-1494,
    1576-1593): if an inserted node's extraction detaches the anchor
    itself (e.g. a self-move), the reference crashes on
    ``null.children`` — we raise at the same point, leaving the same
    partial state."""
    def sibs() -> list:
        p = tree.parent[anchor]
        if p < 0:
            raise RuntimeError(
                "Cannot read properties of null (reading 'children')")
        return _ensure_children_list(tree, p)

    for nid in flat:
        closing = None
        whitespace = None
        if tree.parent[nid] >= 0:
            same_parent = tree.parent[nid] == tree.parent[anchor]
            ex = _extract_node(tree, nid)
            closing = ex["closing"]
            whitespace = ex["whitespace"]
            if same_parent and ex["start"] != -1 \
                    and ex["start"] < insert_index:
                insert_index -= ex["removed"]
        if whitespace is not None:
            tree.parent[whitespace] = tree.parent[anchor]
            sibs().insert(insert_index, whitespace)
            insert_index += 1
        tree.parent[nid] = tree.parent[anchor]
        sibs().insert(insert_index, nid)
        insert_index += 1
        if closing is not None:
            tree.parent[closing] = tree.parent[anchor]
            sibs().insert(insert_index, closing)
            insert_index += 1


def insert_after(tree: FlatTree, target: int, *nodes) -> int:
    """insertAfter (node.js:1430-1498): non-void tag-open targets
    redirect to their closing tag (insertion lands OUTSIDE)."""
    if tree.parent[target] < 0:
        raise ValueError("Cannot insert after a node with no parent")
    flat = _flatten(nodes)

    anchor = target
    if tree.type[target] == TAG_OPEN and not _is_void(tree, target):
        closing = find_closing_tag(tree, target)
        if closing is not None:
            anchor = closing

    siblings = _ensure_children_list(tree, tree.parent[anchor])
    insert_index = siblings.index(anchor) + 1
    _insert_run(tree, anchor, flat, insert_index)
    return target


def remove(tree: FlatTree, nid: int) -> int:
    """remove (node.js:1768-1800): removes the adjacent matching
    open/close partner in the same splice."""
    parent = tree.parent[nid]
    if parent < 0:
        return nid
    siblings = _ensure_children_list(tree, parent)
    try:
        index = siblings.index(nid)
    except ValueError:
        return nid

    if tree.type[nid] == TAG_OPEN and index + 1 < len(siblings):
        nxt = siblings[index + 1]
        if tree.type[nxt] == TAG_CLOSE and tree.name[nxt] == tree.name[nid]:
            del siblings[index:index + 2]
            tree.parent[nid] = -1
            return nid
    if tree.type[nid] == TAG_CLOSE and index > 0:
        prev = siblings[index - 1]
        if tree.type[prev] == TAG_OPEN \
                and tree.name[prev] == tree.name[nid]:
            del siblings[index - 1:index + 1]
            tree.parent[nid] = -1
            return nid
    del siblings[index]
    tree.parent[nid] = -1
    return nid


def replace_with(tree: FlatTree, target: int, *new_nodes) -> int:
    """replaceWith (node.js:1829-1905)."""
    parent = tree.parent[target]
    if parent < 0:
        raise ValueError("Cannot replace a node with no parent")
    flat = _flatten(new_nodes)
    siblings = _ensure_children_list(tree, parent)
    index = siblings.index(target)

    to_delete = [target]
    delete_count = 1
    if tree.type[target] == TAG_OPEN:
        closing = find_closing_tag(tree, target)
        if closing is not None:
            to_delete.append(closing)
            delete_count = 2
        to_delete.extend(tree.descendants(target))

    extracted = []
    for nid in flat:
        if tree.parent[nid] >= 0:
            extracted.append(_extract_node(tree, nid))
        else:
            extracted.append({"opening": nid, "closing": None,
                              "whitespace": None, "removed": 0})

    # splice at the PRE-extraction index (reference quirk, node.js:1874)
    del siblings[index:index + delete_count]

    insert_index = index
    for ex in extracted:
        if ex["whitespace"] is not None:
            tree.parent[ex["whitespace"]] = parent
            siblings.insert(insert_index, ex["whitespace"])
            insert_index += 1
        tree.parent[ex["opening"]] = parent
        siblings.insert(insert_index, ex["opening"])
        insert_index += 1
        if ex["closing"] is not None:
            tree.parent[ex["closing"]] = parent
            siblings.insert(insert_index, ex["closing"])
            insert_index += 1

    for nid in to_delete:
        tree.parent[nid] = -1
    return target


def graft(dst: FlatTree, src: FlatTree, src_nid: int) -> int:
    """Deep-copy a subtree from another FlatTree; returns the new id
    (nodes arrive unlinked, parent -1 at the top)."""
    mapping: dict[int, int] = {}
    for nid in src.iter_preorder(src_nid):
        attrs = src.attrs[nid]
        new = dst.new_node(
            src.type[nid], name=src.name[nid],
            attrs=dict(attrs) if attrs is not None else None,
            content=src.content[nid],
            comment_type=src.comment_type[nid],
            flags=src.flags[nid],
            src_start=src.src_start[nid], src_end=src.src_end[nid],
        )
        decls = src.css_decls[nid]
        dst.css_selector[new] = src.css_selector[nid]
        dst.css_name[new] = src.css_name[nid]
        dst.css_params[new] = src.css_params[nid]
        dst.css_decls[new] = dict(decls) if decls is not None else None
        mapping[nid] = new
        p = src.parent[nid]
        if nid != src_nid and p in mapping:
            dst.children[mapping[p]].append(new)
            dst.parent[new] = mapping[p]
    return mapping[src_nid]


def insert_adjacent_html(
    tree: FlatTree, target: int, position: str, html: str,
    special_tags: tuple[str, ...] = DEFAULT_SPECIAL_TAGS,
) -> int:
    """insertAdjacentHTML (node.js:1629-1706): re-parse + route."""
    valid = ("beforebegin", "afterbegin", "beforeend", "afterend")
    if position not in valid:
        raise ValueError(
            f"Invalid position: {position}. Must be one of: "
            + ", ".join(valid))

    # node.js:1637-1641 — the parser lives on the TRUE root only, so a
    # DETACHED node's parent walk ends at a parserless local root and
    # throws.  Observable after e.g. replaceWith(self): the reference
    # re-inserts the node but still nulls parent on the whole delete
    # set (node.js:1899-1902, mirrored in replace_with below), leaving
    # an in-tree subtree whose parents are all null; css children under
    # a style block hit the same wall via the detached css-root
    # (simple-html-parser.js:144).  Found by differential fuzz seed 777.
    root = target
    while tree.parent[root] >= 0:
        root = tree.parent[root]
    if root != 0:
        raise ValueError(
            "Parser not found. Node tree must be created via "
            "parser.parse()")

    parsed = parse_html(html, special_tags)
    new_root = graft(tree, parsed, 0)
    nodes_to_insert = list(tree.children[new_root])
    for nid in nodes_to_insert:
        tree.parent[nid] = -1
    tree.children[new_root] = []
    if not nodes_to_insert:
        return target

    anchor = target
    if tree.type[target] == TAG_CLOSE and tree.parent[target] >= 0:
        siblings = tree.children[tree.parent[target]]
        close_idx = siblings.index(target)
        if close_idx > 0:
            cand = siblings[close_idx - 1]
            if (tree.type[cand] == TAG_OPEN
                    and tree.name[cand] == tree.name[target]):
                anchor = cand

    if position == "beforebegin":
        if tree.parent[anchor] < 0:
            raise ValueError("Cannot insert beforebegin on node with "
                             "no parent")
        insert_before(tree, anchor, nodes_to_insert)
    elif position == "afterbegin":
        if tree.type[anchor] != TAG_OPEN:
            raise ValueError("afterbegin can only be used on element "
                             "nodes")
        if tree.name[anchor] in VOID_ELEMS_LOWER:
            raise ValueError("afterbegin cannot be used on void elements")
        kids = _ensure_children_list(tree, anchor)
        for nid in reversed(nodes_to_insert):
            tree.parent[nid] = anchor
            kids.insert(0, nid)
    elif position == "beforeend":
        if tree.type[anchor] != TAG_OPEN:
            raise ValueError("beforeend can only be used on element "
                             "nodes")
        if tree.name[anchor] in VOID_ELEMS_LOWER:
            raise ValueError("beforeend cannot be used on void elements")
        append_child(tree, anchor, *nodes_to_insert)
    else:  # afterend
        if tree.parent[anchor] < 0:
            raise ValueError("Cannot insert afterend on node with no "
                             "parent")
        insert_after(tree, anchor, nodes_to_insert)
    return target


class DomIterator:
    """The reference's depth-first iterator (node.js:78-233).

    Verified quirks (probed live against the reference, see
    tests/test_manipulation.py):
    - ``skipChildren()`` and the wasRemoved flag are DEAD CODE: next()
      resets both flags BEFORE calling getNextNode (node.js:207-212),
      so pruning never happens and they have no effect — mirrored here
      (``skip_children`` is a no-op kept for API parity);
    - removing the CURRENT node mid-iteration makes the walk descend
      into the detached subtree and then stop at its severed parent;
    - removing another node simply drops it from the sibling walk.
    """

    def __init__(self, tree: FlatTree, start: int = 0) -> None:
        self.tree = tree
        if tree.type[start] == ROOT and tree.children[start]:
            self.current: int | None = tree.children[start][0]
        else:
            self.current = start
        self.started = False

    def __iter__(self):
        return self

    def skip_children(self) -> None:
        """No-op, like the reference (see class docstring)."""

    def remove(self, nid: int) -> None:
        remove(self.tree, nid)

    def _next_in_ancestry(self, nid: int | None) -> int | None:
        tree = self.tree
        while True:
            if nid is None or nid < 0 or (
                    tree.type[nid] == ROOT and tree.parent[nid] < 0):
                return None
            parent = tree.parent[nid]
            if parent >= 0:
                siblings = tree.children[parent]
                try:
                    idx = siblings.index(nid)
                except ValueError:
                    idx = -1
                if idx != -1 and idx < len(siblings) - 1:
                    return siblings[idx + 1]
            # Reference quirk (simple-html-parser.js:144): style blocks
            # graft cssTree.children WITHOUT re-parenting, so a css
            # top-level node's parent is the DETACHED css-root — the
            # ancestry climb hits it and dies (node.js:96-112: css-root
            # has no parent and isn't type 'root').  The walk therefore
            # ENDS after the last css node instead of resuming at
            # </style>.  FLAG_CSS_TOP marks those nodes here.
            if tree.is_css_top(nid):
                return None
            nid = parent if parent >= 0 else None

    def _next_node(self, nid: int) -> int | None:
        tree = self.tree
        if tree.children[nid]:
            return tree.children[nid][0]
        if tree.type[nid] == ROOT and tree.parent[nid] < 0:
            return None
        parent = tree.parent[nid]
        if parent >= 0:
            siblings = tree.children[parent]
            try:
                idx = siblings.index(nid)
            except ValueError:
                if tree.is_css_top(nid):    # detached css-root (see
                    return None             # _next_in_ancestry)
                return self._next_in_ancestry(parent)
            if idx < len(siblings) - 1:
                return siblings[idx + 1]
        # css top-level node with no next sibling: the reference climbs
        # into the detached css-root and the walk ENDS (quirk, see
        # _next_in_ancestry) — it never resumes at </style>
        if tree.is_css_top(nid):
            return None
        return self._next_in_ancestry(parent if parent >= 0 else None)

    def __next__(self) -> int:
        if self.current is None:
            raise StopIteration
        if not self.started:
            self.started = True
            return self.current
        self.current = self._next_node(self.current)
        if self.current is None:
            raise StopIteration
        return self.current


# ---- scripted mutation (see tools/ref_dump.mjs) ---------------------------


def _resolve_sel(tree: FlatTree, sel: str, index: int | None):
    matches = selector.query_selector_all(tree, 0, sel)
    idx = index or 0
    if idx >= len(matches):
        raise ValueError(f"no match for {sel}[{idx}]")
    return matches[idx]


def _closing_tag(tree: FlatTree, nid: int) -> int:
    closing = find_closing_tag(tree, nid)
    if closing is None:
        raise ValueError("no adjacent closing tag")
    return closing


def run_mutation(tree: FlatTree, steps: list[dict]) -> dict:
    """Apply a scripted edit (one dict per step: ``act`` plus a target
    ``sel``/``index``) and serialize the result — the step language
    tools/ref_dump.mjs mirrors against the reference."""
    for st in steps:
        target = _resolve_sel(tree, st["sel"], st.get("index")) \
            if st.get("sel") else 0
        act = st["act"]
        if act == "create_append":
            append_child(tree, target, create_node(
                tree, st["tag"], st.get("attrs") or {}, st.get("text")))
        elif act == "append_sel":
            append_child(tree, target, _resolve_sel(
                tree, st["node_sel"], st.get("node_index")))
        elif act == "insert_before_new":
            insert_before(tree, target, create_node(
                tree, st["tag"], st.get("attrs") or {}, st.get("text")))
        elif act == "insert_after_new":
            insert_after(tree, target, create_node(
                tree, st["tag"], st.get("attrs") or {}, st.get("text")))
        elif act == "insert_before_sel":
            insert_before(tree, target, _resolve_sel(
                tree, st["node_sel"], st.get("node_index")))
        elif act == "insert_after_sel":
            insert_after(tree, target, _resolve_sel(
                tree, st["node_sel"], st.get("node_index")))
        elif act == "replace_with_new":
            replace_with(tree, target, create_node(
                tree, st["tag"], st.get("attrs") or {}, st.get("text")))
        elif act == "replace_with_sel":
            replace_with(tree, target, _resolve_sel(
                tree, st["node_sel"], st.get("node_index")))
        elif act == "remove":
            remove(tree, target)
        elif act == "remove_close":
            closing = _closing_tag(tree, target)
            remove(tree, closing)
        elif act == "iah_close":
            closing = _closing_tag(tree, target)
            insert_adjacent_html(tree, closing, st["position"],
                                   st["html"])
        elif act == "insert_before_close":
            closing = _closing_tag(tree, target)
            insert_before(tree, closing, create_node(
                tree, st["tag"], st.get("attrs") or {}, st.get("text")))
        elif act == "insert_after_close":
            closing = _closing_tag(tree, target)
            insert_after(tree, closing, create_node(
                tree, st["tag"], st.get("attrs") or {}, st.get("text")))
        elif act == "iah":
            insert_adjacent_html(tree, target, st["position"],
                                   st["html"])
        elif act == "set_attr":
            selector.set_attribute(tree, target, st["name"], st["value"])
        elif act == "remove_attr":
            selector.remove_attribute(tree, target, st["name"])
        elif act == "update_attr":
            selector.update_attribute(tree, target, st["name"],
                                      st["value"], st.get("sep", " "))
        else:
            raise ValueError(f"unknown act {act}")
    return {
        "html": serialize.to_html(tree, 0, False),
        "html_comments": serialize.to_html(tree, 0, True),
    }
