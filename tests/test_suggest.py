"""ES suggesters vs a brute-force vocabulary reference: term_suggest
(spell correction — banded dictionary scan, (distance, df, term)
ranking, ES suggest_mode semantics) and complete_suggest (type-ahead —
prefix range scan, df-weighted)."""

from __future__ import annotations

from collections import Counter

import pytest

from bugzilla_etl_spark.index import (
    build_index,
    complete_suggest,
    term_suggest,
)
from bugzilla_etl_spark.index.build import prepare_docs
from bugzilla_etl_spark.tokenize import py_analyze


@pytest.fixture(scope="module")
def sug_idx(spark, small_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("suggest") / "idx")
    build_index(
        spark, small_corpus, d, n_shards=4, n_tb=4, n_sb=2, block_size=32,
    )
    return d


@pytest.fixture(scope="module")
def vocab_df(spark, small_corpus):
    """term -> doc frequency, brute force."""
    rows = prepare_docs(small_corpus, 4).select("doc_id", "content").collect()
    return Counter(
        t for r in rows for t in set(py_analyze(r["content"], "code_v1"))
    )


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _ref_suggest(vocab, tok, max_edits, prefix_length, size, pred=None):
    pre = tok[:prefix_length]
    cands = [
        (t, df, _lev(t, tok))
        for t, df in vocab.items()
        if t.startswith(pre) and t != tok and _lev(t, tok) <= max_edits
        and (pred is None or pred(t, df))
    ]
    cands.sort(key=lambda x: (x[2], -x[1], x[0]))
    return cands[:size]


def test_term_suggest_missing_token(sug_idx, vocab_df):
    tok = "retur"
    assert tok not in vocab_df
    got = term_suggest(sug_idx, tok, max_edits=2, prefix_length=1, size=5)
    assert len(got) == 1 and got[0][0] == tok
    want = _ref_suggest(vocab_df, tok, 2, 1, 5)
    assert got[0][1] == want
    assert want, "typo must actually yield corrections"


def test_term_suggest_mode_missing_skips_known(sug_idx, vocab_df):
    known = next(iter(vocab_df))
    got = term_suggest(sug_idx, f"{known} retur", suggest_mode="missing")
    by_tok = dict(got)
    assert by_tok[known] == []
    assert by_tok["retur"]


def test_term_suggest_mode_always_and_popular(sug_idx, vocab_df):
    # pick a mid-frequency known token
    known = sorted(vocab_df, key=lambda t: vocab_df[t])[len(vocab_df) // 2]
    always = dict(term_suggest(sug_idx, known, suggest_mode="always"))[known]
    want = _ref_suggest(vocab_df, known, 2, 1, 5)
    assert always == want
    assert all(s != known for s, _, _ in always)
    popular = dict(term_suggest(sug_idx, known, suggest_mode="popular"))[
        known
    ]
    own = vocab_df[known]
    want_pop = _ref_suggest(
        vocab_df, known, 2, 1, 5, pred=lambda t, df: df > own
    )
    assert popular == want_pop
    assert all(df > own for _, df, _ in popular)


def test_term_suggest_min_doc_freq(sug_idx, vocab_df):
    got = dict(
        term_suggest(sug_idx, "retur", min_doc_freq=3, suggest_mode="always")
    )["retur"]
    want = _ref_suggest(
        vocab_df, "retur", 2, 1, 5, pred=lambda t, df: df >= 3
    )
    assert got == want
    assert all(df >= 3 for _, df, _ in got)


def test_complete_suggest(sug_idx, vocab_df):
    for pre in ("re", "f", "pa"):
        got = complete_suggest(sug_idx, pre, size=8)
        want = sorted(
            ((t, df) for t, df in vocab_df.items() if t.startswith(pre)),
            key=lambda x: (-x[1], x[0]),
        )[:8]
        assert got == want, pre
    assert complete_suggest(sug_idx, "re")


def test_complete_suggest_no_hits(sug_idx):
    assert complete_suggest(sug_idx, "zzzz") == []


def test_suggest_validation(sug_idx):
    with pytest.raises(ValueError, match="suggest_mode"):
        term_suggest(sug_idx, "retur", suggest_mode="never")
    with pytest.raises(ValueError, match="max_edits"):
        term_suggest(sug_idx, "retur", max_edits=0)
    with pytest.raises(ValueError, match="prefix"):
        complete_suggest(sug_idx, "")
    with pytest.raises(KeyError, match="unknown field"):
        complete_suggest(sug_idx, "re", field="nope")
