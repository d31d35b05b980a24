"""JavaScript string/regex semantics helpers.

The reference engine (caboodle-tech/simple-html-parser) is written in
JavaScript; byte-identical extraction requires replicating a handful of
JS-specific behaviors that differ from Python:

- JS ``\\s`` matches ``[\\t\\n\\v\\f\\r \\u00a0\\u1680\\u2000-\\u200a`` +
  ``\\u2028\\u2029\\u202f\\u205f\\u3000\\ufeff]`` (ECMA-262 WhiteSpace +
  LineTerminator).  Python ``re`` ``\\s`` on str adds ``\\x1c-\\x1f \\x85``
  and *misses* ``\\ufeff`` — so we use explicit character classes.
- ``String.prototype.substring(a, b)`` swaps its arguments when a > b.
- ``String.prototype.split(regex)`` keeps leading/trailing empty fields
  (Python ``re.split`` matches this, asserted in tests).
- JS ``\\w`` without the ``u`` flag is ASCII ``[A-Za-z0-9_]``.

Reference: /root/reference/src/simple-html-parser.js:5-10,
/root/reference/src/node.js:2-11, /root/reference/src/css-parser.js:5-8.
"""

from __future__ import annotations

import re

# Exact ECMAScript \s character set (WhiteSpace + LineTerminator).
JS_WS_CHARS = (
    "\t\n\x0b\x0c\r   "
    "           "
    "    　﻿"
)
_WS = re.escape(JS_WS_CHARS)
JS_WS_SET = frozenset(JS_WS_CHARS)

# /\s+/ as used by the reference for tag-content splitting.
WS_PLUS = re.compile(f"[{_WS}]+")

# /([\w-]+)(?:=(?:"([^"]*)"|'([^']*)'|(\S+)))?/g
# (simple-html-parser.js:6).  \w is ASCII; \S is NOT-JS-whitespace.
ATTR_PATTERN = re.compile(
    r"([A-Za-z0-9_\-]+)"
    r"(?:=(?:\"([^\"]*)\"|'([^']*)'|([^" + _WS + r"]+)))?"
)

# Tag-start dispatch set for the tokenizer hot loop: after '<', any of
# these chars means NOT the non-tag rescue (valid tag-name chars plus
# '/' close-tag and '!' markup-decl prefixes).  Equivalent to the
# reference's `=== '<' || === ' ' || (!'/' && !'!' && !validTagName)`
# test (simple-html-parser.js:80-83) — '<' and ' ' are not valid tag
# chars, so the explicit checks there are redundant — but ONE frozenset
# lookup instead of up to 4 compares + a C regex call per tag (r5
# kernel A/B).
TAG_START_CHARS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "0123456789_-/!")

# /[\(\[{,;=:&|!?]/ JS regex-literal context (simple-html-parser.js:7).
JS_REGEX_CONTEXT = frozenset("([{,;=:&|!?")


def js_substring(s: str, a: int, b: int) -> str:
    """JS ``String.prototype.substring``: clamps to [0, len] and swaps
    the arguments when a > b (Python slicing would return '')."""
    n = len(s)
    a = 0 if a < 0 else (n if a > n else a)
    b = 0 if b < 0 else (n if b > n else b)
    if a > b:
        a, b = b, a
    return s[a:b]


def js_split_ws(s: str) -> list[str]:
    """``s.split(/\\s+/)`` with JS field semantics (leading separator
    yields an initial empty string; splitting '' yields [''])."""
    return WS_PLUS.split(s)


def js_trim(s: str) -> str:
    """``String.prototype.trim`` — strips the JS whitespace set."""
    return s.strip(JS_WS_CHARS)


def is_js_blank(s: str) -> bool:
    """True when ``s.trim() === ''`` under JS trim semantics."""
    return js_trim(s) == ""


_ASCII_DIGITS = frozenset("0123456789")


def _is_array_index(key: str) -> bool:
    """Canonical array-index key per ECMA-262: digits only, no leading
    zeros (except '0'), value < 2^32-1."""
    if not key or any(c not in _ASCII_DIGITS for c in key):
        return False
    if len(key) > 1 and key[0] == "0":
        return False
    return int(key) < 4294967295


def js_entries(d: dict) -> list[tuple[str, object]]:
    """``Object.entries`` enumeration order: array-index keys first in
    ascending numeric order, then string keys in insertion order.
    Matters for attribute/declaration serialization when a key like
    '39' appears (e.g. ``<tag 39=x a=y>`` serializes 39 first)."""
    idx = []
    rest = []
    for k in d:
        (idx if _is_array_index(k) else rest).append(k)
    idx.sort(key=int)
    return [(k, d[k]) for k in idx] + [(k, d[k]) for k in rest]
