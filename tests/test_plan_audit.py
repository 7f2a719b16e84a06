"""Spark-free checks of tools/plan_audit.py's diff gate and argument
parsing."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from plan_audit import diff_audits, parse_args  # noqa: E402


def _row(exch=2, bnlj=0, cart=0):
    return {"exch": exch, "bhj": 1, "smj": 0, "bnlj": bnlj, "cart": cart}


def test_allow_downgrades_only_exchange_increases():
    prev = {"q": _row(), "r": _row()}
    cur = {"q": _row(exch=3, cart=1), "r": _row(exch=3, bnlj=1)}
    regressions, notes = diff_audits(prev, cur, allow=frozenset({"q", "r"}))
    assert regressions == [
        "q: cart 0 -> 1 (plan drift)",
        "r: bnlj 0 -> 1 (plan drift)",
    ]
    allowed = [n for n in notes if n.startswith("ALLOWED")]
    assert allowed == [
        "ALLOWED (intentional this round): q: exch 2 -> 3 (plan drift)",
        "ALLOWED (intentional this round): r: exch 2 -> 3 (plan drift)",
    ]


def test_unallowed_exchange_increase_is_a_regression():
    regressions, _ = diff_audits({"q": _row()}, {"q": _row(exch=3)})
    assert regressions == ["q: exch 2 -> 3 (plan drift)"]


def test_parse_args(tmp_path):
    prev = tmp_path / "PREV.md"
    prev.write_text("")
    assert parse_args([]) == (None, None, frozenset())
    assert parse_args(["out.md", "--diff", str(prev), "--allow", "a,b"]) == (
        "out.md",
        str(prev),
        frozenset({"a", "b"}),
    )
    for bad in (
        ["--diff", str(prev), "--allow"],
        ["--diff"],
        ["--allow", "--diff", str(prev)],
        ["--allow", "a"],
        ["--diff", str(tmp_path / "missing.md")],
        ["a.md", "b.md"],
        ["--bogus"],
    ):
        with pytest.raises(SystemExit):
            parse_args(bad)
