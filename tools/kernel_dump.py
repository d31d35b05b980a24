"""Cross-runtime comparison facade.

Produces the normalized tree-dump / op-result shapes that
tools/ref_dump.mjs produces from the reference parser, so pytest can
assert byte-level equivalence (the correctness gate: extracted text and
tree semantics byte-identical per url, BASELINE.json `north_rule`).
Used by tests/test_goldens.py and tools/fuzz_differential.py; the
package itself never imports it.
"""

from __future__ import annotations

from simple_html_parser_spark.kernel import cssquery, selector, serialize
from simple_html_parser_spark.kernel.extract import (
    ExtractionProfile, extract,
)
from simple_html_parser_spark.kernel.manipulate import (
    DomIterator, run_mutation,
)
from simple_html_parser_spark.kernel.tokenizer import (
    DEFAULT_SPECIAL_TAGS, parse_html,
)
from simple_html_parser_spark.kernel.tree import FlatTree


def dump_tree(tree: FlatTree) -> list[dict]:
    out = []
    for nid in tree.iter_preorder(0):
        attrs = tree.attrs[nid]
        out.append({
            "parent": tree.parent[nid],
            "type": tree.type[nid],
            "name": tree.name[nid],
            "attrs": attrs if attrs else None,
            "content": tree.content[nid],
            "comment_type": tree.comment_type[nid],
            "style_block": tree.is_style_block(nid),
            "script_block": tree.is_script_block(nid),
            "css_selector": tree.css_selector[nid],
            "css_name": tree.css_name[nid],
            "css_params": tree.css_params[nid],
            "css_decls": tree.css_decls[nid],
        })
    return out


def run_op(tree: FlatTree, op: dict):
    ctx = op.get("ctx", 0)
    name = op["op"]
    if name == "mutate":
        return run_mutation(tree, op["steps"])
    if name == "iterate":
        return _run_iterate(tree, op.get("remove"), op.get("remove_other"))
    if name == "visualize":
        return serialize.visualize(
            tree, ctx,
            show_attributes=op.get("attrs", True),
            show_content=op.get("content", True),
            show_node_number=op.get("numbers", False),
            show_node_type=op.get("types", False),
            content_preview_length=op.get("preview_len", 20),
        )
    if name == "extract":
        if op.get("mode") == "density":
            profile = ExtractionProfile(
                mode="density",
                min_block_chars=op.get("min_block_chars", 20),
                max_link_density=op.get("max_link_density", 0.5),
            )
        else:
            profile = ExtractionProfile(mode="parity")
        r = extract(tree, profile)
        return {"text": r.text, "n_text_nodes": r.n_text_nodes}
    if name == "qsa":
        return selector.query_selector_all(tree, ctx, op["sel"])
    if name == "qs":
        return selector.query_selector(tree, ctx, op["sel"])
    if name == "find_by_attr":
        return selector.find_all_by_attr(tree, ctx, op["name"])
    if name == "find_by_tag":
        return selector.find_all_by_tag(tree, ctx, op["name"])
    if name == "find_by_type":
        return selector.find_all_by_type(tree, ctx, op["name"])
    if name == "nodes_by_type":
        return selector.get_nodes_by_type(tree, ctx, op["name"])
    if name == "comments":
        opts = op.get("options")
        if opts is None:
            return [
                {"content": c.get("content"),
                 "commentType": c.get("commentType"),
                 "node": c["node"]}
                for c in selector.get_comments(tree, ctx)
            ]
        # option-flag forms: emit ONLY the keys the reference sets
        # (node.js:1287-1316); both-false returns the raw node,
        # serialized as {bare_node} to match ref_dump.mjs
        inc_content = opts.get("includeContent", True)
        inc_type = opts.get("includeType", True)
        res = selector.get_comments(
            tree, ctx, include_content=inc_content,
            include_type=inc_type)
        if not inc_content and not inc_type:
            return [{"bare_node": c["node"]} for c in res]
        out = []
        for c in res:
            o: dict = {"node": c["node"]}
            if "content" in c:
                o["content"] = c["content"]
            if "commentType" in c:
                o["commentType"] = c["commentType"]
            out.append(o)
        return out
    if name == "get_tag":
        return serialize.get_tag(tree, ctx)
    if name == "inner_html":
        return serialize.inner_html(tree, ctx, bool(op.get("comments")))
    if name == "outer_html":
        return serialize.outer_html(tree, ctx, bool(op.get("comments")))
    if name == "node_to_html":
        return serialize.to_html(tree, ctx, bool(op.get("comments")))
    if name == "get_attribute":
        return selector.get_attribute(tree, ctx, op["name"])
    if name == "css_to_string":
        return serialize.css_to_string(
            tree, None, context=ctx, **(op.get("options") or {}))
    if name == "css_to_string_nodes":
        return serialize.css_to_string(
            tree, op["node_ids"], context=ctx, **(op.get("options") or {}))
    if name == "css_find_rules":
        o = op.get("options") or {}
        rules = cssquery.css_find_rules(
            tree, ctx, op["sel"],
            include_compound=o.get("includeCompound", True),
            shallow=o.get("shallow", False),
        )
        if o.get("shallow"):
            return [
                {"selector": tree.css_selector[r],
                 "decls": tree.css_decls[r],
                 "n_children": len(tree.children[r])}
                for r in rules
            ]
        return rules
    if name == "css_find_at_rules":
        return cssquery.css_find_at_rules(tree, ctx, op.get("name"))
    if name == "css_find_variable":
        return cssquery.css_find_variable(tree, ctx, op["name"])
    if name == "css_find_variables":
        return [
            {"name": v["name"], "value": v["value"], "scope": v["scope"]}
            for v in cssquery.css_find_variables(
                tree, ctx, include_root=bool(op.get("includeRoot")))
        ]
    raise ValueError(f"unknown op {name}")


def run_case(case: dict) -> dict:
    """Mirror of the JS harness result for one {id, html, special_tags?,
    ops?} case."""
    special = tuple(case.get("special_tags") or DEFAULT_SPECIAL_TAGS)
    tree = parse_html(case["html"], special)
    # dump/serialize BEFORE ops: mutate ops change the tree, and the JS
    # harness evaluates its result fields in this order too
    result = {
        "id": case["id"],
        "dump": dump_tree(tree),
        "to_html": serialize.to_html(tree, 0, False),
        "to_html_comments": serialize.to_html(tree, 0, True),
    }
    ops_out = []
    for op in case.get("ops") or []:
        try:
            ops_out.append({"ok": run_op(tree, op)})
        except Exception as e:  # noqa: BLE001 — mirror JS error capture
            ops_out.append({"error": str(e)})
    result["ops"] = ops_out
    return result


# ---- scripted mutation / iteration mirrors (see tools/ref_dump.mjs) -------


def _node_label(tree: FlatTree, nid: int) -> str:
    return f"{tree.type[nid]}:{tree.name[nid]}:{tree.content[nid]}"


def _run_iterate(tree: FlatTree, remove_spec: dict | None,
                 remove_other: dict | None = None) -> dict:
    it = DomIterator(tree, 0)
    visited = []
    for nid in it:
        visited.append(_node_label(tree, nid))
        if remove_spec and (
            (not remove_spec.get("type")
             or tree.type[nid] == remove_spec["type"])
            and (not remove_spec.get("name")
                 or tree.name[nid] == remove_spec["name"])
            and (not remove_spec.get("content")
                 or tree.content[nid] == remove_spec["content"])
        ):
            it.remove(nid)
        if remove_spec and remove_spec.get("skip_at") \
                and _node_label(tree, nid) == remove_spec["skip_at"]:
            it.skip_children()
        if remove_other and _node_label(tree, nid) == remove_other["at"]:
            tgt = selector.query_selector(tree, 0, remove_other["sel"])
            if tgt is not None:
                it.remove(tgt)
    return {
        "visited": visited,
        "html": serialize.to_html(tree, 0, True),
    }
