"""Seeded differential fuzzer: random HTML-ish documents through the
Python kernel AND the reference parser (Node), asserting identical tree
dumps and toHtml output.  Usage:

    python3 tools/fuzz_differential.py [n_cases] [seed]
"""

from __future__ import annotations

import json
import random
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from kernel_dump import run_case  # noqa: E402

TAGS = ["div", "p", "span", "a", "br", "img", "style", "script", "jhp",
        "ul", "li", "DIV", "b", "x-y", "s_"]
ATTR_NAMES = ["id", "class", "href", "data-x", "DATA", "a_b", "x-1"]
ATTR_VALS = ['"v1"', "'v2'", '""', "plain", '"a b"', '"</style>"',
             '"x=y"', "", '"&amp;"', "'<i>'"]
TEXTS = ["hello", " ", "a & b", "x<y", "1 << 2", "tail -->", "<3",
         "< div", "\n  ", "&#39;", "𝔘ni", "﻿bom", "a b"]
CSS_BITS = [
    ".a { color: red; }", "p{margin:0}", "@media (x) { .b { c: d } }",
    "/* c */", ":root{--v:1px}", ".q{a:rgb(1,2,3);b:url(x.png)}",
    "@import url('u.css');", "a,b c{x:y}", ".n{ .m{q:r} s:t }",
    "@layer l;", "broken{", "}stray", "p:not(.x){y:z}", "", "  ",
    ".x::after{content:':'}", "a::before{b:c}", "::x{y:z}",
    "@import broken-no-semi", "@charset", "@{x:y}", "@media{a{b:c}}",
    "h1 { x: a(b(c)) d; }", ".p { q: (unbalanced; r: s }",
    "sel(ector){a:b}", "a{b:c;;d:e}", "a{:novalue;x:}", "a{b}",
    "@supports (display: grid) and (gap: 1px) { x { y: z } }",
    # NB: "{orphan:block}" is excluded — a top-level '{' with an empty
    # selector INFINITE-LOOPS the reference (css-parser.js:384 null
    # return without advancing); our parser advances past it instead.
    "a{b:c}}}extra", "a:hover{x:y}",
]
JS_BITS = [
    "var x = 1;", "// line\n", "/* block */", 'var s = "a//b";',
    "var r = /x\\/g/;", "if(a<b){}", "`t//pl`", "x(); // tail",
    "/* open", "\\// odd", "a=/re/; //c\n",
]


def gen_doc(rng: random.Random) -> str:
    parts = []
    depth = 0
    for _ in range(rng.randint(1, 40)):
        r = rng.random()
        if r < 0.25:
            parts.append(rng.choice(TEXTS))
        elif r < 0.45:
            tag = rng.choice(TAGS)
            n_attrs = rng.randint(0, 3)
            attrs = "".join(
                f" {rng.choice(ATTR_NAMES)}"
                + (f"={rng.choice(ATTR_VALS)}" if rng.random() < 0.8 else "")
                for _ in range(n_attrs)
            )
            sc = rng.choice(["", "", "", " /", "/"])
            parts.append(f"<{tag}{attrs}{sc}>")
            if tag == "style" and rng.random() < 0.7:
                parts.append(rng.choice(CSS_BITS) + rng.choice(CSS_BITS))
                parts.append("</style>")
            elif tag in ("jhp", "s_") and rng.random() < 0.7:
                parts.append(rng.choice(JS_BITS) + rng.choice(JS_BITS))
                parts.append(f"</{tag}>")
            else:
                depth += 1
        elif r < 0.6 and depth >= 0:
            parts.append(f"</{rng.choice(TAGS)}>")
            depth -= 1
        elif r < 0.7:
            parts.append(f"<!--{rng.choice(TEXTS)}-->")
        elif r < 0.75:
            parts.append("<!--")
        elif r < 0.85:
            parts.append(rng.choice(
                ["<", "< ", "<<", "<!", "</", ">", "<!-->", "<!--->",
                 "</ div>", "<div", "< p>"]))
        else:
            parts.append(rng.choice(CSS_BITS))
    return "".join(parts)


MUT_TAGS = ["div", "p", "em", "img", "li", "x-y"]
MUT_SELS = ["div", "p", "span", "li", "a", ".a", "#w", "ul", "b"]


def gen_mutation_steps(rng: random.Random) -> list[dict]:
    steps = []
    for _ in range(rng.randint(1, 6)):
        r = rng.random()
        sel = rng.choice(MUT_SELS)
        node_sel = rng.choice(MUT_SELS)
        idx = rng.randint(0, 1)
        if r < 0.2:
            steps.append({"act": "create_append", "sel": sel,
                          "index": idx, "tag": rng.choice(MUT_TAGS),
                          "attrs": {"k": "v"} if rng.random() < 0.5 else {},
                          "text": rng.choice([None, "txt", " "])})
        elif r < 0.35:
            steps.append({"act": rng.choice(
                ["insert_before_sel", "insert_after_sel", "append_sel",
                 "replace_with_sel"]),
                "sel": sel, "index": idx, "node_sel": node_sel,
                "node_index": rng.randint(0, 1)})
        elif r < 0.5:
            steps.append({"act": rng.choice(
                ["insert_before_new", "insert_after_new",
                 "replace_with_new"]),
                "sel": sel, "index": idx, "tag": rng.choice(MUT_TAGS),
                "text": "n"})
        elif r < 0.7:
            steps.append({"act": rng.choice(["remove", "remove_close"]),
                          "sel": sel, "index": idx})
        elif r < 0.85:
            steps.append({"act": "iah", "sel": sel, "index": idx,
                          "position": rng.choice(
                              ["beforebegin", "afterbegin", "beforeend",
                               "afterend"]),
                          "html": rng.choice(
                              ["<p>new</p>", "x<em>y</em>",
                               "<img s=1>", "<!--c-->tail"])})
        else:
            steps.append({"act": rng.choice(
                ["set_attr", "update_attr", "remove_attr"]),
                "sel": sel, "index": idx, "name": "class", "value": "zz"})
    return steps


def gen_mutation_doc(rng: random.Random) -> str:
    parts = ['<div id="w">']
    for _ in range(rng.randint(2, 8)):
        tag = rng.choice(["p", "span", "li", "b", "a", "div"])
        cls = rng.choice(['', ' class="a"', ' class="b"'])
        ws = rng.choice(["", "\n  ", " "])
        parts.append(f"{ws}<{tag}{cls}>{rng.choice(['t', 'u v', ''])}"
                     f"</{tag}>")
    parts.append("</div><ul><li>z</li></ul>")
    return "".join(parts)


def run_fuzz(n: int, seed: int) -> int:
    rng = random.Random(seed)
    extract_ops = [
        {"op": "extract"},
        {"op": "extract", "mode": "density", "min_block_chars": 3},
    ]
    cases = [{"id": i, "html": gen_doc(rng), "ops": extract_ops}
             for i in range(n)]
    # mutation-sequence cases: same doc, scripted M1-M8 ops + iterate
    for i in range(n, n + n // 2):
        rng2 = random.Random(seed * 100003 + i)
        cases.append({
            "id": i, "html": gen_mutation_doc(rng2),
            "ops": [
                {"op": "mutate", "steps": gen_mutation_steps(rng2)},
                {"op": "iterate"},
                {"op": "iterate", "remove": {"type": "tag-open",
                                             "name": "p"}},
                # skipChildren is reference dead code — walk unchanged
                {"op": "iterate", "remove": {"type": "zz",
                                             "skip_at": "tag-open:div:"}},
                # remove ANOTHER node mid-iteration (dropped from the
                # sibling walk, unlike remove-current which ends it)
                {"op": "iterate", "remove_other": {"at": "tag-open:ul:",
                                                   "sel": "li"}},
            ],
        })
    n = len(cases)
    inp = "\n".join(json.dumps(c, ensure_ascii=False) for c in cases)
    proc = subprocess.run(
        ["node", str(ROOT / "tools" / "ref_dump.mjs")],
        input=inp, capture_output=True, text=True, check=True,
    )
    # split on '\n' only: fuzz docs contain  / , which
    # JSON.stringify leaves raw and str.splitlines would split on.
    refs = {json.loads(l)["id"]: json.loads(l)
            for l in proc.stdout.split("\n") if l.strip()}
    failures = 0
    for case in cases:
        ref = refs[case["id"]]
        if "error" in ref:
            print(f"case {case['id']}: reference error {ref['error']!r} "
                  f"on {case['html']!r}")
            continue
        mine = run_case(case)
        # Python-side invariant: extraction spans rebuild the text
        # byte-for-byte from the source (covers special-tag offsets)
        from simple_html_parser_spark.kernel.extract import (
            PARITY, extract,
        )
        from simple_html_parser_spark.kernel.tokenizer import parse_html
        _t = parse_html(case["html"])
        _r = extract(_t, PARITY)
        _rebuilt = "".join(case["html"][a:b] for a, b in _r.spans)
        if _rebuilt != _r.text:
            failures += 1
            print(f"FAIL case {case['id']} (spans): {case['html']!r}")
            continue
        # error results: compare PRESENCE only and stop at the first
        # (messages differ across runtimes and the tree state after a
        # mid-operation crash is partially mutated on both sides)
        def _norm_ops(ops):
            out = []
            for o in ops:
                if "error" in o:
                    out.append({"error": True})
                    break
                out.append(o)
            return out
        mine["ops"] = _norm_ops(mine["ops"])
        ref["ops"] = _norm_ops(ref["ops"])
        if mine["ops"] != ref["ops"]:
            failures += 1
            print(f"FAIL case {case['id']} (extract): {case['html']!r}")
            print(f"   py : {mine['ops']}\n   ref: {ref['ops']}")
            continue
        for key in ("dump", "to_html", "to_html_comments"):
            if mine[key] != ref[key]:
                failures += 1
                print(f"FAIL case {case['id']} ({key}): {case['html']!r}")
                if key == "dump":
                    for i, (a, b) in enumerate(zip(mine[key], ref[key])):
                        if a != b:
                            print(f"  node {i}\n   py : {a}\n   ref: {b}")
                            break
                    if len(mine[key]) != len(ref[key]):
                        print(f"  len {len(mine[key])} vs {len(ref[key])}")
                else:
                    print(f"   py : {mine[key]!r}\n   ref: {ref[key]!r}")
                break
    print(f"{n - failures}/{n} matched (seed={seed})")
    return failures


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 300
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42
    raise SystemExit(1 if run_fuzz(n, seed) else 0)
