"""Golden gate: the Python kernel must be byte-identical to the
reference parser on every fixture case (tree dump, toHtml round-trips,
query results, CSS ops).  Goldens were produced by the reference
implementation itself (tools/make_goldens.py); no Node needed here."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

from fixture_corpus import CASES  # noqa: E402
from kernel_dump import run_case  # noqa: E402

GOLDENS_PATH = ROOT / "fixtures" / "goldens.jsonl"


def _load_goldens() -> dict[str, dict]:
    out = {}
    with GOLDENS_PATH.open(encoding="utf-8") as f:
        for line in f:
            r = json.loads(line)
            out[r["id"]] = r
    return out


GOLDENS = _load_goldens() if GOLDENS_PATH.exists() else {}


@pytest.mark.parametrize("case", CASES, ids=[c["id"] for c in CASES])
def test_case_matches_reference(case):
    assert case["id"] in GOLDENS, (
        f"no golden for {case['id']} — run python3 tools/make_goldens.py")
    golden = GOLDENS[case["id"]]
    mine = run_case(case)

    assert mine["dump"] == golden["dump"], "tree dump mismatch"
    assert mine["to_html"] == golden["to_html"]
    assert mine["to_html_comments"] == golden["to_html_comments"]
    assert len(mine["ops"]) == len(golden["ops"])
    for i, (a, b) in enumerate(zip(mine["ops"], golden["ops"])):
        op = (case.get("ops") or [])[i]
        if "error" in b:
            assert "error" in a, f"op {i} {op}: ref errored, we did not"
        else:
            assert a == b, f"op {i} {op} mismatch"


def test_all_goldens_have_cases():
    assert set(GOLDENS) == {c["id"] for c in CASES}
