// Differential-test harness: runs the REFERENCE parser
// (/root/reference, read-only) over JSONL {id, html, special_tags?, ops?}
// from stdin and emits JSONL {id, dump, to_html, to_html_comments,
// ops: [...]} — the same normalized shapes
// tests/differential_common.py produces from the Python kernel.
// Used only to generate goldens / verify cross-runtime equivalence;
// no reference code is copied into the engine.
import { SimpleHtmlParser } from '/root/reference/src/simple-html-parser.js';
import * as readline from 'node:readline';

function walk(root) {
    // Pre-order list of [node, parentId]; grafted CSS children keep a
    // dangling .parent in the reference, so parents come from traversal.
    const out = [];
    const stack = [[root, -1]];
    while (stack.length > 0) {
        const [node, parentId] = stack.pop();
        const id = out.length;
        out.push([node, parentId]);
        const children = node.children || [];
        for (let i = children.length - 1; i >= 0; i--) {
            stack.push([children[i], id]);
        }
    }
    return out;
}

function dumpTree(nodes) {
    return nodes.map(([node, parentId]) => ({
        parent: parentId,
        type: node.type,
        name: node.name ?? '',
        attrs: node.attributes && Object.keys(node.attributes).length > 0
            ? node.attributes : null,
        content: node.content ?? '',
        comment_type: node.commentType ?? null,
        style_block: !!node.styleBlock,
        script_block: !!node.scriptBlock,
        css_selector: node.cssSelector ?? null,
        css_name: node.cssName ?? null,
        css_params: node.cssParams ?? null,
        css_decls: node.cssDeclarations ?? null,
    }));
}

// FROZEN extraction spec (FIXTURES.md §6) — mirror of
// simple_html_parser_spark/kernel/extract.py, run over the REFERENCE
// tree so goldens pin cross-runtime byte-identity of extracted text.
const EXTRACT_BLACKLIST = new Set([
    'script', 'style', 'noscript', 'template', 'head', 'nav',
    'footer', 'aside', 'iframe', 'svg',
]);
const BLOCK_TAGS = new Set([
    'div', 'p', 'article', 'section', 'main', 'td', 'th', 'li',
    'blockquote', 'pre', 'body', 'h1', 'h2', 'h3', 'h4', 'h5', 'h6',
]);

function extractCandidates(root) {
    const cands = [];
    const walk = (node) => {
        for (const child of node.children || []) {
            if (child.type === 'tag-open') {
                if (EXTRACT_BLACKLIST.has(child.name.toLowerCase())
                    || child.styleBlock || child.scriptBlock) continue;
                walk(child);
            } else if (child.type === 'text') {
                if (child.content.trim() !== '') cands.push(child);
            } else {
                walk(child);
            }
        }
    };
    walk(root);
    return cands;
}

function nearestAncestor(node, names) {
    let p = node.parent;
    while (p) {
        if (p.type === 'tag-open' && names.has(p.name.toLowerCase())) return p;
        p = p.parent;
    }
    return null;
}

const A_SET = new Set(['a']);

function extractText(root, profile) {
    const cands = extractCandidates(root);
    let kept = cands;
    if (profile.mode === 'density' && cands.length > 0) {
        const textChars = new Map();
        const linkChars = new Map();
        const blockOf = [];
        for (const c of cands) {
            const block = nearestAncestor(c, BLOCK_TAGS);
            blockOf.push(block);
            // frozen spec counts Unicode CODE POINTS (Python len),
            // not UTF-16 units — astral chars count once
            const n = Array.from(c.content.trim()).length;
            textChars.set(block, (textChars.get(block) || 0) + n);
            // link text counts iff an <a> sits between the text node and
            // its block (walk hits 'a' before 'block').
            let p = c.parent;
            let isLink = false;
            while (p && p !== block) {
                if (p.type === 'tag-open' && A_SET.has(p.name.toLowerCase())) {
                    isLink = true;
                    break;
                }
                p = p.parent;
            }
            if (isLink) linkChars.set(block, (linkChars.get(block) || 0) + n);
        }
        const keptBlocks = new Set();
        for (const [b, tc] of textChars.entries()) {
            if (tc >= profile.minBlockChars
                && (linkChars.get(b) || 0) <= profile.maxLinkDensity * tc) {
                keptBlocks.add(b);
            }
        }
        kept = cands.filter((c, i) => keptBlocks.has(blockOf[i]));
    }
    return {
        text: kept.map((c) => c.content).join(''),
        n_text_nodes: cands.length,
    };
}

function resolveSel(root, sel, index) {
    const matches = root.querySelectorAll(sel);
    const node = matches[index ?? 0];
    if (!node) throw new Error(`no match for ${sel}[${index ?? 0}]`);
    return node;
}

function closingOf(node) {
    const siblings = node.parent.children;
    const i = siblings.indexOf(node);
    const cand = siblings[i + 1];
    if (cand && cand.type === 'tag-close' && cand.name === node.name) return cand;
    throw new Error('no adjacent closing tag');
}

function runMutation(root, steps) {
    // Scripted mutation interpreter — mirrored in
    // simple_html_parser_spark/kernel/manipulate.py (run_mutation), so
    // manipulation semantics are golden-compared end-to-end.
    for (const st of steps) {
        const target = st.sel ? resolveSel(root, st.sel, st.index) : root;
        switch (st.act) {
            case 'create_append':
                target.appendChild(...target.createNode(
                    st.tag, st.attrs ?? {}, st.text ?? null));
                break;
            case 'append_sel':
                target.appendChild(resolveSel(root, st.node_sel, st.node_index));
                break;
            case 'insert_before_new':
                target.insertBefore(...root.createNode(
                    st.tag, st.attrs ?? {}, st.text ?? null));
                break;
            case 'insert_after_new':
                target.insertAfter(...root.createNode(
                    st.tag, st.attrs ?? {}, st.text ?? null));
                break;
            case 'insert_before_sel':
                target.insertBefore(resolveSel(root, st.node_sel, st.node_index));
                break;
            case 'insert_after_sel':
                target.insertAfter(resolveSel(root, st.node_sel, st.node_index));
                break;
            case 'replace_with_new':
                target.replaceWith(...root.createNode(
                    st.tag, st.attrs ?? {}, st.text ?? null));
                break;
            case 'replace_with_sel':
                target.replaceWith(resolveSel(root, st.node_sel, st.node_index));
                break;
            case 'remove': target.remove(); break;
            case 'remove_close': closingOf(target).remove(); break;
            case 'iah': target.insertAdjacentHTML(st.position, st.html); break;
            case 'iah_close':
                closingOf(target).insertAdjacentHTML(st.position, st.html);
                break;
            case 'insert_before_close':
                closingOf(target).insertBefore(...root.createNode(
                    st.tag, st.attrs ?? {}, st.text ?? null));
                break;
            case 'insert_after_close':
                closingOf(target).insertAfter(...root.createNode(
                    st.tag, st.attrs ?? {}, st.text ?? null));
                break;
            case 'set_attr': target.setAttribute(st.name, st.value); break;
            case 'remove_attr': target.removeAttribute(st.name); break;
            case 'update_attr':
                target.updateAttribute(st.name, st.value, st.sep ?? ' ');
                break;
            default: throw new Error(`unknown act ${st.act}`);
        }
    }
    return { html: root.toHtml(false), html_comments: root.toHtml(true) };
}

function nodeLabel(n) {
    return `${n.type}:${n.name}:${n.content}`;
}

function runIterate(root, removeSpec, removeOther) {
    const visited = [];
    for (const n of root) {
        visited.push(nodeLabel(n));
        if (removeSpec
            && (!removeSpec.type || n.type === removeSpec.type)
            && (!removeSpec.name || n.name === removeSpec.name)
            && (!removeSpec.content || n.content === removeSpec.content)) {
            n.remove();
        }
        if (removeSpec && removeSpec.skip_at
            && nodeLabel(n) === removeSpec.skip_at) {
            n.skipChildren();
        }
        // remove ANOTHER node (not the current one) mid-iteration:
        // when the current node's label matches `at`, remove the first
        // querySelector match for `sel`
        if (removeOther && nodeLabel(n) === removeOther.at) {
            const tgt = root.querySelector(removeOther.sel);
            if (tgt) tgt.remove();
        }
    }
    return { visited, html: root.toHtml(true) };
}

function runOp(op, root, byId, idOf) {
    const ctx = byId[op.ctx ?? 0];
    const ids = (arr) => arr.map((n) => idOf.get(n) ?? -1);
    switch (op.op) {
        case 'mutate': return runMutation(root, op.steps);
        case 'visualize': return ctx.visualize({
            returnString: true,
            showAttributes: op.attrs ?? true,
            showContent: op.content ?? true,
            showNodeNumber: op.numbers ?? false,
            showNodeType: op.types ?? false,
            contentPreviewLength: op.preview_len ?? 20,
        });
        case 'iterate':
            return runIterate(root, op.remove ?? null,
                op.remove_other ?? null);
        case 'extract': {
            const profile = op.mode === 'density'
                ? { mode: 'density',
                    minBlockChars: op.min_block_chars ?? 20,
                    maxLinkDensity: op.max_link_density ?? 0.5 }
                : { mode: 'parity' };
            return extractText(root, profile);
        }
        case 'qsa': return ids(ctx.querySelectorAll(op.sel));
        case 'qs': {
            const r = ctx.querySelector(op.sel);
            return r ? idOf.get(r) : null;
        }
        case 'find_by_attr': return ids(ctx.findAllByAttr(op.name));
        case 'find_by_tag': return ids(ctx.findAllByTag(op.name));
        case 'find_by_type': return ids(ctx.findAllByType(op.name));
        case 'nodes_by_type': return ids(ctx.getNodesByType(op.name));
        case 'comments': {
            if (op.options === undefined) {
                return ctx.getComments().map((c) => ({
                    content: c.content ?? null,
                    commentType: c.commentType ?? null,
                    node: idOf.get(c.node) ?? -1,
                }));
            }
            // option-flag forms (node.js:1287-1316): keep only the
            // keys the reference actually set; with both flags false
            // the reference returns the raw Node, serialized as
            // {bare_node: id}
            return ctx.getComments(op.options).map((c) => {
                if (c && c.type === 'comment') {
                    return { bare_node: idOf.get(c) ?? -1 };
                }
                const o = { node: idOf.get(c.node) ?? -1 };
                if ('content' in c) o.content = c.content;
                if ('commentType' in c) o.commentType = c.commentType;
                return o;
            });
        }
        case 'get_tag': return ctx.getTag();
        case 'inner_html': return ctx.innerHtml(!!op.comments);
        case 'outer_html': return ctx.outerHtml(!!op.comments);
        case 'node_to_html': return ctx.toHtml(!!op.comments);
        case 'get_attribute': return ctx.getAttribute(op.name) ?? null;
        case 'css_to_string': return ctx.cssToString(op.options ?? {});
        case 'css_to_string_nodes': {
            const nodes = op.node_ids.map((i) => byId[i]);
            return ctx.cssToString(nodes, op.options ?? {});
        }
        case 'css_find_rules': {
            const o = op.options ?? {};
            const rules = ctx.cssFindRules(op.sel, o);
            if (o.shallow) {
                return rules.map((r) => ({
                    selector: r.cssSelector ?? null,
                    decls: r.cssDeclarations ?? null,
                    n_children: (r.children || []).length,
                }));
            }
            return ids(rules);
        }
        case 'css_find_at_rules': return ids(ctx.cssFindAtRules(op.name ?? null));
        case 'css_find_variable': return ctx.cssFindVariable(op.name);
        case 'css_find_variables':
            return ctx.cssFindVariables({ includeRoot: !!op.includeRoot })
                .map((v) => ({ name: v.name, value: v.value, scope: v.scope ?? null }));
        default: throw new Error(`unknown op ${op.op}`);
    }
}

const rl = readline.createInterface({ input: process.stdin, terminal: false });
const lines = [];
rl.on('line', (l) => { if (l.trim()) lines.push(l); });
rl.on('close', () => {
    for (const line of lines) {
        const { id, html, special_tags, ops } = JSON.parse(line);
        const parser = special_tags
            ? new SimpleHtmlParser(special_tags)
            : new SimpleHtmlParser();
        let result;
        try {
            const root = parser.parse(html);
            const nodes = walk(root);
            const byId = nodes.map(([n]) => n);
            const idOf = new Map(byId.map((n, i) => [n, i]));
            result = {
                id,
                dump: dumpTree(nodes),
                to_html: root.toHtml(false),
                to_html_comments: root.toHtml(true),
                ops: (ops || []).map((op) => {
                    try {
                        return { ok: runOp(op, root, byId, idOf) };
                    } catch (e) {
                        return { error: String(e && e.message || e) };
                    }
                }),
            };
        } catch (e) {
            result = { id, error: String(e && e.stack || e) };
        }
        process.stdout.write(`${JSON.stringify(result)}\n`);
    }
});
