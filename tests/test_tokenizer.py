"""Tokenizer conformance tests — html5lib-format corpus replay.

Mirrors the reference harness semantics
(/root/reference/test/tokenizer-html5lib.zig:79-173): expected
Character tokens coalesced, errors compared by spec-id code only,
exact token- and error-count equality.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from zhtml_spark.errors import PREPROCESSING_ERROR_IDS, SPEC_ERROR_IDS
from zhtml_spark.tokenizer import tokenize

FIXTURE = Path(__file__).parent / "fixtures" / "tokenizer_cases.json"
CASES = json.loads(FIXTURE.read_text())["tests"]


def to_html5lib(tokens: list[tuple]) -> list[list]:
    """Convert engine token tuples to html5lib-tests arrays."""
    out: list[list] = []
    for t in tokens:
        kind = t[0]
        if kind == "Character":
            out.append(["Character", t[1]])
        elif kind == "StartTag":
            row = ["StartTag", t[1], t[2]]
            if t[3]:
                row.append(True)
            out.append(row)
        elif kind == "EndTag":
            out.append(["EndTag", t[1]])
        elif kind == "Comment":
            out.append(["Comment", t[1]])
        elif kind == "DOCTYPE":
            # html5lib "correctness" flag == NOT force-quirks
            # (/root/reference/test/tokenizer-html5lib.zig:189-191)
            out.append(["DOCTYPE", t[1], t[2], t[3], not t[4]])
        else:  # pragma: no cover
            raise AssertionError(f"unknown token {t!r}")
    return out


def coalesce(tokens: list[list]) -> list[list]:
    """Merge adjacent Character tokens (harness does the same,
    test/tokenizer-html5lib.zig:224-233)."""
    out: list[list] = []
    for t in tokens:
        if t[0] == "Character" and out and out[-1][0] == "Character":
            out[-1] = ["Character", out[-1][1] + t[1]]
        else:
            out.append(list(t))
    return out


def expected_errors(case: dict) -> list[str]:
    codes = [e["code"] for e in case.get("errors", [])]
    return sorted(c for c in codes if c not in PREPROCESSING_ERROR_IDS)


@pytest.mark.parametrize(
    "case", CASES, ids=[c["description"].replace(" ", "-") for c in CASES]
)
def test_tokenizer_case(case: dict) -> None:
    states = case.get("initialStates", ["Data"])
    for state in states:
        tokens, errors = tokenize(
            case["input"],
            initial_state=state,
            last_start_tag=case.get("lastStartTag"),
        )
        got = coalesce(to_html5lib(tokens))
        want = coalesce(case["output"])
        assert got == want, f"{case['description']} [{state}]"
        got_errors = sorted(
            e for e in errors if e not in PREPROCESSING_ERROR_IDS
        )
        assert got_errors == expected_errors(case), (
            f"{case['description']} [{state}] errors"
        )
        assert all(e in SPEC_ERROR_IDS for e in errors)


def test_every_fixture_has_valid_error_codes() -> None:
    for case in CASES:
        for e in case.get("errors", []):
            assert e["code"] in SPEC_ERROR_IDS, e
