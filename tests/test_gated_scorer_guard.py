"""Guard: every gated request runs on one scorer.

A gated request takes its candidates from the rarest clause and then
verifies them: the bool grouped executor (``boolquery._grouped_search``
-> ``_make_grouped_bucket_scorer`` -> ``_gate_survivors`` +
``_score_survivors``). The gated ``search_many`` (AND, min_should_match,
should), ``phrase_search_many`` and ``multi_match_search_many`` lower
their requests onto it. A second factory, or a second caller of the
phrase position checks, is a forked scorer whose scores can drift from
the others by a bit.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parents[1] / "bugzilla_etl_spark"
SOURCES = {p.relative_to(PKG).as_posix(): p.read_text() for p in PKG.rglob("*.py")}


def _calls(name: str) -> dict[str, int]:
    """{module: calls of ``name``} over the package, definitions excluded."""
    rx = re.compile(rf"(?<!def )\b{name}\(")
    return {p: n for p, src in SOURCES.items() if (n := len(rx.findall(src)))}


def test_deleted_gated_factories_stay_gone():
    for name in ("_make_conjunctive_bucket_scorer", "_make_phrase_bucket_scorer",
                 "_make_multimatch_bucket_scorer"):
        assert not any(name in src for src in SOURCES.values()), name


def test_one_grouped_scorer_call():
    assert _calls("_make_grouped_bucket_scorer") == {"index/boolquery.py": 1}


def test_phrase_checks_only_in_the_gate_and_nested():
    for name in ("_phrase_survivors", "_unordered_survivors"):
        assert set(_calls(name)) <= {"index/boolquery.py", "index/nested.py"}, name
