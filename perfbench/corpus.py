"""Seeded crawl-shaped corpora with closed-form expected outputs.

Every workload reads one table ``(url, warc_ts, html binary, text,
lang)``.  The pages are built here from ``random.Random(seed)`` and
never from the product's render templates, so a change to
``sources/documents.py`` cannot change a workload.  While a page is
built, a small model of the frozen extraction spec (FIXTURES.md §6)
records what each planted text run must become: kept or skipped by
the parity walk.  The expected outputs are derived from that record
alone; the kernel is never called.

The model only has to be right for the shapes planted here: every
element is closed in order (except void elements), text never
contains ``<`` and never has non-ASCII whitespace, and two text runs
are never adjacent.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

# Frozen extraction spec (FIXTURES.md §6), restated so that the
# expectation does not follow a change to the kernel's copy.
SKIP = frozenset((
    "script", "style", "noscript", "template", "head", "nav",
    "footer", "aside", "iframe", "svg", "jhp",
))
VOID = frozenset(("img", "br", "hr", "input", "meta", "link"))

SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
LANGS = ("en", "de", "fr", "es", "pt")
_EPOCH = dt.datetime(2024, 1, 1)


def _vocabulary(size: int, salt: int) -> list[str]:
    """A fixed word list (same for every seed): syllable words, about
    one in twenty with an accented letter so decode sees multi-byte
    UTF-8."""
    rng = random.Random(salt)
    onsets = "b c d f g h k l m n p r s t v w z br tr st ch sh pl gr".split()
    vowels = "a e i o u ai ea ou io".split()
    accents = "é ü ñ ø å ç".split()
    words: set[str] = set()
    while len(words) < size:
        w = "".join(rng.choice(onsets) + rng.choice(vowels)
                    for _ in range(rng.randint(1, 3)))
        if rng.random() < 0.05:
            w += rng.choice(accents)
        words.add(w)
    return sorted(words)


VOCAB = _vocabulary(4000, 7)
BIG_VOCAB = _vocabulary(30000, 11)


def _words(rng: random.Random, n: int, vocab: list[str] = VOCAB) -> str:
    return " ".join(rng.choices(vocab, k=n))


class Page:
    """HTML builder that records, for each planted node, what the
    parser and the extraction spec must make of it."""

    def __init__(self) -> None:
        self.parts: list[str] = []
        self.stack: list[str] = []  # open element names
        self.texts: list[list] = []  # [text, skipped]
        self.counts = Counter({("root", ""): 1})
        self._last_text = False

    def open(self, name: str, attrs: str = "") -> None:
        self.parts.append(f"<{name}{attrs}>")
        self._last_text = False
        self.counts[("tag-open", name)] += 1
        if name not in VOID:
            self.stack.append(name)

    def close(self) -> None:
        name = self.stack.pop()
        self.parts.append(f"</{name}>")
        self._last_text = False
        self.counts[("tag-close", name)] += 1

    def elem(self, name: str, text: str, attrs: str = "") -> None:
        self.open(name, attrs)
        self.text(text)
        self.close()

    def text(self, s: str) -> None:
        self.parts.append(s)
        if self._last_text:  # the parser sees one text node
            self.texts[-1][0] += s
            return
        self._last_text = True
        self.counts[("text", "")] += 1
        self.texts.append([s, any(n in SKIP for n in self.stack)])

    def comment(self, s: str) -> None:
        self.parts.append(f"<!--{s}-->")
        self._last_text = False
        self.counts[("comment", "")] += 1

    def html(self) -> str:
        assert not self.stack, self.stack
        return "".join(self.parts)

    def parity_text(self) -> str:
        return "".join(t for t, skipped in self.texts if not skipped)


# ---- page shapes --------------------------------------------------------

_NAV = [f"/section/{w}" for w in ("news", "sport", "arts", "tech", "travel")]
_INLINE_HREF = [f"/wiki/{w}" for w in VOCAB[:8]]
_INLINE = (("b", ""), ("em", ""), ("span", ' class="note"'), ("a", None))


def text_heavy_page(rng: random.Random) -> Page:
    """~13 KB, ~250 nodes, ~30 distinct open-tag bodies corpus-wide:
    an article of long paragraphs inside site chrome."""
    pg = Page()
    pg.open("html")
    pg.open("head")
    pg.elem("title", _words(rng, 6))
    pg.open("meta", ' charset="utf-8"')
    pg.close()
    pg.open("body")
    pg.open("div", ' class="page"')
    pg.open("header", ' class="top"')
    pg.elem("h1", _words(rng, 8))
    pg.close()
    pg.open("nav", ' class="menu"')
    pg.open("ul")
    for href in _NAV:
        pg.open("li")
        pg.elem("a", _words(rng, 1), f' href="{href}"')
        pg.close()
    pg.close()
    pg.close()
    pg.open("main", ' class="content"')
    pg.open("article", ' class="post"')
    for k in range(16):
        if k % 4 == 0:
            pg.elem("h2", _words(rng, 5))
        pg.open("p")
        pg.text(_words(rng, 30) + " ")
        for _ in range(2):
            name, attrs = rng.choice(_INLINE)
            if attrs is None:
                attrs = f' href="{rng.choice(_INLINE_HREF)}"'
            pg.elem(name, _words(rng, 3), attrs)
            pg.text(" " + _words(rng, 30) + " ")
        pg.close()
    pg.close()
    pg.close()
    pg.open("aside", ' class="related"')
    pg.elem("p", _words(rng, 12))
    pg.close()
    pg.open("footer", ' class="foot"')
    pg.elem("p", _words(rng, 10))
    pg.close()
    pg.comment(" rendered ")
    pg.close()
    pg.close()
    pg.close()
    return pg


# ---- tables -------------------------------------------------------------


@dataclass
class Corpus:
    """The generated table plus its closed-form expectation."""

    rows: dict = field(default_factory=lambda: {k: [] for k in SCHEMA.names})
    expect_text: dict = field(default_factory=dict)  # url -> text
    expect_doc_counts: dict = field(default_factory=dict)  # url -> key
    expect_pairs: dict = field(default_factory=dict)  # (a, b) -> jaccard
    props: dict = field(default_factory=dict)

    @property
    def n_docs(self) -> int:
        return len(self.rows["url"])

    def add(self, url: str, html: str, text: str, lang: str) -> None:
        r = self.rows
        r["url"].append(url)
        r["warc_ts"].append(_EPOCH + dt.timedelta(seconds=len(r["url"])))
        r["html"].append(html.encode("utf-8"))
        r["text"].append(text)
        r["lang"].append(lang)

    def input_bytes(self, column: str) -> int:
        if column == "html":
            return sum(map(len, self.rows["html"]))
        return sum(len(t.encode("utf-8")) for t in self.rows["text"])

    def table(self) -> pa.Table:
        return pa.table(self.rows, schema=SCHEMA)

    def node_failures(self, urls: list[str], node_batches) -> int:
        """Documents among ``urls`` whose parse_nodes rows (Arrow
        batches with url, type and name) do not give the planted
        (type, name) node counts."""
        got: dict[str, Counter] = {u: Counter() for u in urls}
        for b in node_batches:
            for u, t, n in zip(b.column("url").to_pylist(),
                               b.column("type").to_pylist(),
                               b.column("name").to_pylist()):
                got.setdefault(u, Counter())[(t, n or "")] += 1
        return sum(count_key(c) != self.expect_doc_counts.get(u)
                   for u, c in got.items())


def url_of(seed: int, i: int) -> str:
    """Unique per document; the last path segment is the doc id."""
    return f"https://site{i % 97:02d}.example/{seed}/{i:07d}"


def count_key(counts: Counter) -> str:
    """One page's (type, name) node counts as a canonical string."""
    return ";".join(sorted(f"{t}|{n}={k}" for (t, n), k in counts.items()))


def text_heavy(seed: int, n_docs: int) -> Corpus:
    rng = random.Random(seed)
    c = Corpus()
    for i in range(n_docs):
        url = url_of(seed, i)
        pg = text_heavy_page(rng)
        expect = pg.parity_text()
        c.expect_doc_counts[url] = count_key(pg.counts)
        c.add(url, pg.html(), expect, rng.choice(LANGS))
        c.expect_text[url] = expect
    sizes = sorted(map(len, c.rows["html"]))
    c.props = {"median_page_kb": sizes[len(sizes) // 2] / 1e3,
               "max_page_kb": sizes[-1] / 1e3}
    return c


def shingles(text: str, n: int = 3) -> set[str]:
    """dedup.shingles_col semantics: distinct space-joined n-grams of
    the single-space tokens; the whole token list when shorter."""
    toks = [t for t in text.split(" ") if t]
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def near_dup(seed: int, n_docs: int, words: int = 300) -> Corpus:
    """Background documents (random text over a 30k-word vocabulary,
    pairwise Jaccard ~0) plus planted clusters of 2-5 variants of one
    base text, each variant with one substituted word (pairwise
    Jaccard ~0.96, so 8 bands x 4 rows miss a pair with p ~ 1e-7).
    The expected pair set is every within-cluster pair with its exact
    shingle Jaccard."""
    rng = random.Random(seed)
    c = Corpus()
    texts: list[str] = []
    clusters: list[list[int]] = []
    while len(texts) < n_docs:
        base = rng.choices(BIG_VOCAB, k=words)
        if rng.random() < 0.04 and len(texts) + 5 <= n_docs:
            members = []
            for _ in range(rng.randint(2, 5)):
                v = list(base)
                v[rng.randrange(words)] = rng.choice(BIG_VOCAB)
                members.append(len(texts))
                texts.append(" ".join(v))
            clusters.append(members)
        else:
            texts.append(" ".join(base))
    for i, t in enumerate(texts):
        c.add(url_of(seed, i), f"<html><body><p>{t}</p></body></html>", t,
              rng.choice(LANGS))
    for members in clusters:
        sets = {m: shingles(texts[m]) for m in members}
        for x in members:
            for y in members:
                if x < y:
                    inter = len(sets[x] & sets[y])
                    c.expect_pairs[(x, y)] = round(
                        inter / (len(sets[x]) + len(sets[y]) - inter), 6)
    c.props = {"clusters": len(clusters),
               "planted_pairs": len(c.expect_pairs)}
    return c


def write_parquet(corpus: Corpus, out_dir: Path, files: int = 8,
                  row_group_rows: int = 32) -> list[Path]:
    """Multi-file, multi-row-group parquet; byte-identical for one
    corpus under one pyarrow version."""
    out_dir.mkdir(parents=True, exist_ok=True)
    table = corpus.table()
    per_file = -(-table.num_rows // files)
    paths = []
    for k in range(files):
        part = table.slice(k * per_file, per_file)
        if part.num_rows == 0:
            break
        p = out_dir / f"part-{k:05d}.parquet"
        pq.write_table(part, p, row_group_size=row_group_rows,
                       compression="snappy")
        paths.append(p)
    return paths


def digest(paths: list[Path]) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(p.read_bytes())
    return h.hexdigest()
