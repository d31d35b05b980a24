"""CSS parser — semantics-identical to the reference recursive-descent
parser (/root/reference/src/css-parser.js:49-396), re-expressed as an
ITERATIVE cursor machine writing into a :class:`FlatTree`.

Differences from the reference that are deliberate:

- No recursion (parseBlock/parseRule/parseAtRule recurse in JS; a
  deeply-nested adversarial stylesheet would overflow the Python stack
  inside an executor task, so nesting is a container *stack*).
- The reference infinite-loops on a top-level ``{`` with an empty
  selector (parseRule returns null without advancing, css-parser.js:384);
  we advance one char instead so pathological pages terminate.  This is
  unreachable for any input on which the reference itself terminates.
"""

from __future__ import annotations

import re

from .jsre import WS_PLUS as WS_RUN, js_trim

# C-level scanners (regex searches skip runs of benign chars instead of
# per-char Python iteration — ~8x on style-heavy pages; semantics are
# EXACTLY the reference's per-char machines, fuzz-verified)
AT_NAME_RUN = re.compile(r"[a-zA-Z\-]*")
PROP_END = re.compile(r"[:}]")
STMT_END = re.compile(r"[;}]")
VAL_DELIM = re.compile(r"[;}()]")
SEL_DELIM = re.compile(r"[{()]")
NEST_DELIM = re.compile(r"[:{};()]")
from .tree import (
    COMMENT, CSS_AT_RULE, CSS_RULE, FLAG_CSS_TOP, FlatTree,
)

_STATEMENT_AT_RULES = ("import", "charset", "namespace")


def parse_css_into(tree: FlatTree, parent: int, css: str) -> None:
    """Parse ``css`` appending nodes under ``parent``.

    Top-level CSS nodes are marked with FLAG_CSS_TOP — the
    grafted-under-<style> case, where the reference leaves the nodes'
    parent pointing at a dangling css-root (simple-html-parser.js:144),
    which cssFindVariables' ":root scope" logic observes (node.js:637).
    """
    pos = 0
    n = len(css)
    # Stack of (container id, its declarations dict or None); index 0
    # is the graft parent.  The dict rides the stack so declarations
    # avoid two SparseColumn lookups each (hot on style-heavy pages).
    stack = [(parent, None)]

    def skip_ws(p: int) -> int:
        m = WS_RUN.match(css, p)
        return m.end() if m else p

    def add_top(ntype: str, **kw) -> int:
        """Append under the current container, flagging top-level nodes."""
        container = stack[-1][0]
        nid = tree.add_node(ntype, container, **kw)
        if len(stack) == 1:
            tree.flags[nid] |= FLAG_CSS_TOP
        return nid

    while pos < n:
        pos = skip_ws(pos)
        if pos >= n:
            break
        ch = css[pos]
        inside_block = len(stack) > 1

        # End of a block (reference #parseBlock, css-parser.js:225-228).
        if inside_block and ch == "}":
            pos += 1
            stack.pop()
            continue

        # Comment (css-parser.js:269-292).
        if ch == "/" and pos + 1 < n and css[pos + 1] == "*":
            start = pos + 2
            end = css.find("*/", start)
            if end == -1:
                content = css[start:]
                pos = n
            else:
                content = css[start:end]
                pos = end + 2
            add_top(COMMENT, content=content, comment_type="css")
            continue

        # At-rule (css-parser.js:143-207).
        if ch == "@":
            pos += 1
            pos_end = AT_NAME_RUN.match(css, pos).end()
            name = css[pos:pos_end]
            pos = pos_end
            pos = skip_ws(pos)
            at_node = add_top(CSS_AT_RULE, name=name)
            tree.css_name[at_node] = name

            if name in _STATEMENT_AT_RULES:
                # Statement form: read params to ';' (css-parser.js:163-174).
                start = pos
                semi = css.find(";", pos)
                pos = n if semi == -1 else semi
                tree.css_params[at_node] = js_trim(css[start:pos])
                if pos < n:  # css[pos] == ';'
                    pos += 1
                continue

            # Block form: params until '{' at paren depth 0.
            params_start = pos
            pos = _scan_to_brace(css, pos, n)
            tree.css_params[at_node] = js_trim(css[params_start:pos])
            pos = skip_ws(pos)
            if pos < n and css[pos] == "{":
                pos += 1
                stack.append((at_node, None))
            continue

        if inside_block and not _is_nested_rule(css, pos, n):
            # Declaration (css-parser.js:298-355).
            container, decls = stack[-1]
            pos, decls = _parse_declaration(
                tree, container, decls, css, pos, n)
            stack[-1] = (container, decls)
            continue

        # Rule: selector until '{' at paren depth 0 (css-parser.js:362-396).
        selector_start = pos
        pos = _scan_to_brace(css, pos, n)
        selector = js_trim(css[selector_start:pos])
        if not selector or pos >= n or css[pos] != "{":
            # Reference returns null here; an empty selector before '{'
            # would loop forever there — advance to terminate (see module
            # docstring).
            if pos < n and css[pos] == "{":
                pos += 1
            continue
        rule = add_top(CSS_RULE, name=selector)
        tree.css_selector[rule] = selector
        rule_decls: dict = {}
        tree.css_decls[rule] = rule_decls
        pos += 1  # skip '{'
        stack.append((rule, rule_decls))


def _scan_to_brace(css: str, pos: int, n: int) -> int:
    """Advance to the first '{' at paren depth 0 (or EOF)."""
    depth = 0
    while True:
        m = SEL_DELIM.search(css, pos)
        if m is None:
            return n
        i = m.start()
        c = css[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:  # '{'
            return i
        pos = i + 1


def _is_nested_rule(css: str, pos: int, n: int) -> bool:
    """Lookahead: '{' before ':' at paren depth 0 → nested rule
    (css-parser.js:103-136).  NB the reference's '::' exclusion only
    skips the FIRST colon of a pair — the second one still sets
    foundColon (per-char semantics kept: advance by one, re-examine)."""
    depth = 0
    while True:
        m = NEST_DELIM.search(css, pos)
        if m is None:
            return False
        i = m.start()
        c = css[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            if c == ":":
                if i + 1 >= n or css[i + 1] != ":":
                    return False  # found_colon
                pos = i + 1  # skip ONE char; second ':' re-examined
                continue
            if c == "{":
                return True  # found_brace
            return False  # ';' or '}'
        pos = i + 1


def _parse_declaration(
    tree: FlatTree, container: int, decls: dict | None,
    css: str, pos: int, n: int
):
    prop_start = pos
    m = PROP_END.search(css, pos)
    pos = m.start() if m else n
    prop = js_trim(css[prop_start:pos])

    if pos >= n or css[pos] != ":":
        # Invalid declaration: skip to ';' or '}' (css-parser.js:307-316)
        # — returns BEFORE cssDeclarations init, so an at-rule block
        # with only invalid declarations keeps css_decls = None
        m = STMT_END.search(css, pos)
        pos = m.start() if m else n
        if pos < n and css[pos] == ";":
            pos += 1
        return pos, decls

    pos += 1  # skip ':'
    wm = WS_RUN.match(css, pos)
    if wm:
        pos = wm.end()

    value_start = pos
    depth = 0
    while True:
        m = VAL_DELIM.search(css, pos)
        if m is None:
            pos = n
            break
        i = m.start()
        c = css[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:  # ';' or '}'
            pos = i
            break
        pos = i + 1
    value = js_trim(css[value_start:pos])

    # init point matches the reference exactly (css-parser.js:342-344):
    # reached only for ':'-bearing declarations, even empty ones
    if decls is None:
        decls = tree.css_decls[container]
        if decls is None:
            decls = {}
            tree.css_decls[container] = decls
    if prop and value:
        decls[prop] = value

    if pos < n and css[pos] == ";":
        pos += 1
    return pos, decls
