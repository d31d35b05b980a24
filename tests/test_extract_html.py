"""Differential test of the one-pass extraction kernel, without Spark:
``extract_html(html, profile, max_nodes=cap)`` must equal
``extract(parse_html(html, max_nodes=cap), profile)`` field by field,
or raise ``NodeCapExceeded`` with the same message (same byte)."""

from __future__ import annotations

import random
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

from fixture_corpus import CASES  # noqa: E402
from fuzz_differential import gen_doc  # noqa: E402
from simple_html_parser_spark.kernel.extract import (  # noqa: E402
    MAIN_CONTENT, PARITY, extract, extract_html,
)
from simple_html_parser_spark.kernel.tokenizer import (  # noqa: E402
    NodeCapExceeded, parse_html,
)
from simple_html_parser_spark.sources.documents import (  # noqa: E402
    VARIANT_TEMPLATES,
)

CAPS = (None, 7, 30)
PROFILES = {"parity": PARITY, "main_content": MAIN_CONTENT}


def _outcome(fn):
    try:
        r = fn()
    except NodeCapExceeded as e:
        return ("cap", str(e))
    return ("ok", r.text, r.spans, r.n_nodes, r.n_text_nodes)


def _template_pages() -> list[str]:
    rows = [(1, "hello world", "en", "src1"),
            (12345, "la vie est belle et longue", "fr", "another_source"),
            (7, "a < b && c > d <!-- x", "de", "s")]
    return [tpl.replace("%1$s", str(i)).replace("%2$s", text)
            .replace("%3$s", lang).replace("%4$s", src)
            for tpl in VARIANT_TEMPLATES.values()
            for i, text, lang, src in rows]


def _gen_docs() -> list[str]:
    rng = random.Random(2024)
    return [gen_doc(rng) for _ in range(2000)]


# JS-vs-Python whitespace, astral chars, NUL, comment openers, and
# unterminated style/special/blacklisted elements
EDGES = [
    "<p>\ufeff</p><p>\x1c\x85</p><p> \u2028\u3000 </p><p>\U0001d518x</p>",
    "<div>a\x00b<!-->c<!--->d</div><p>\t\n</p>",
    "<style>p{a:b}<p>kept?</p>", "<jhp>var x = 1;<p>in jhp</p>",
    "<div><jhp>open<p>t</p></div><p>after</p>", "<DIV>x</div></DIV>y",
    "<nav><a href=x>n</a></nav><main><p><a>link</a> words here</p></main>",
    "< p>x</p><", "</p>stray<br/>z</br/>", "<a><b><a>x</a>y</b>z</a>w",
]


CORPORA = {
    "edges": lambda: EDGES,
    "fixture_cases": lambda: [c["html"] for c in CASES],
    "gen_doc": _gen_docs,
    "templates": _template_pages,
}


@pytest.mark.parametrize("profile", sorted(PROFILES))
@pytest.mark.parametrize("corpus", sorted(CORPORA))
def test_extract_html_matches_tree_extraction(corpus, profile):
    prof = PROFILES[profile]
    for html in CORPORA[corpus]():
        for cap in CAPS:
            want = _outcome(
                lambda: extract(parse_html(html, max_nodes=cap), prof))
            got = _outcome(lambda: extract_html(html, prof, max_nodes=cap))
            assert got == want, (cap, html[:200])
